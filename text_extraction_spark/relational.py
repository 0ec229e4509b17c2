"""Relational/dataflow operator plane — SURVEY.md §2-B Q1–Q32.

Each operator is one `QUERIES[name]` builder `(spark, sf_dir) → DataFrame`
plus (where SQL-expressible) an `ORACLES[name]` ANSI-SQL string DuckDB
runs on the same parquet — the driver compares row-count + schema +
order-insensitive value-hash, so:

* every computed column is aliased IDENTICALLY on both sides;
* every floating aggregate is rounded IDENTICALLY on both sides (sums
  in different orders differ by ulps between engines);
* every ranking has a TOTAL deterministic tie-break;
* DECIMAL-returning DuckDB aggregates (median, list_aggregate) are cast
  back to DOUBLE to match Spark's types.

Queries with no oracle entry (approximate / UDF-mechanics / streaming)
get the driver's weaker rows-only check — SURVEY §2-B marks them ⊘.
"""

from __future__ import annotations

import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructType, StructField, IntegerType


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# Below this uncompressed size the round-robin spread's own shuffle +
# stage latency outweighs the parallelism it buys (measured at sf0.1,
# 1.6–2.6 MB tables: spread cost ~+0.3 s vs ~0.3 s of serial map work
# saved; at sf1.0, 6–22 MB tables: 3–16× query speedups).
_SPREAD_MIN_BYTES = 4 * 1024 * 1024


def _scan_meta(path: str) -> tuple[int, int]:
    """Parquet (row_groups, uncompressed_bytes) of a file or directory,
    read from its footers on every call (~0.1 ms per table), so a table
    rewritten in place is sized by what it holds now."""
    import glob as _glob

    import pyarrow.parquet as _pq

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(os.path.join(path, "*.parquet")))
    )
    groups, nbytes = 0, 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        groups += md.num_row_groups
        nbytes += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return groups or 1, nbytes


def t_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """t() plus a round-robin repartition to default parallelism WHEN
    the parquet footprint cannot feed that many scan tasks (guide §2.5
    input-skew class): a parquet reader cannot split inside a row
    group, so a table written as one or two row groups pins every
    downstream map stage (explode / n-gram / hash / json parse) to one
    or two tasks regardless of the split count — measured at sf1 the
    d44 gram build ran on 2 of 32 cores. The guard is row-group-aware,
    not split-aware (splits of a single-row-group file are fake
    parallelism), and additionally requires the table to carry enough
    bytes (_SPREAD_MIN_BYTES) for the spread to beat its own shuffle.
    Costs one footer read on the driver; at any real table size
    row groups >> cores and the bare scan is returned unchanged — the
    guard can only ever fire where the table is small enough that the
    repartition it adds is trivially cheap. Round-robin repartition is
    value-safe for every caller: all are partition-order-independent
    aggregates/joins (determinism pinned by the oracle suite)."""
    df = t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    groups, nbytes = _scan_meta(os.path.join(sf_dir, f"{name}.parquet"))
    if groups < par and nbytes >= _SPREAD_MIN_BYTES:
        return df.repartition(par)
    return df


def query_registry(queries: dict, oracles: dict):
    """The `q(name, sql=None)` decorator each query module registers its
    builders with: `queries[name] = fn`, plus `oracles[name] = sql` when
    an oracle SQL is given."""

    def q(name: str, sql: str | None = None):
        def deco(fn):
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql
            return fn

        return deco

    return q


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
q = query_registry(QUERIES, ORACLES)


# --------------------------------------------------------------- Q1 scan/prune


@q(
    "q01_scan_projection",
    "SELECT l_orderkey, l_quantity FROM lineitem",
)
def q01(spark, sf):
    # column pruning: ReadSchema in the plan must be exactly these two
    return t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")


@q(
    "q02_filter_predicates",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
       FROM lineitem
       WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-06-30'
         AND l_returnflag IN ('R','A')
         AND l_quantity > 5 AND l_linestatus LIKE 'F%'""",
)
def q02(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.filter(
        F.col("l_shipdate").between("1996-01-01", "1997-06-30")
        & F.col("l_returnflag").isin("R", "A")
        & (F.col("l_quantity") > 5)
        & F.col("l_linestatus").like("F%")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@q(
    "q03_broadcast_join",
    """SELECT p.p_brand, count(*) AS cnt, round(sum(l.l_quantity), 2) AS sum_qty
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       GROUP BY p.p_brand""",
)
def q03(spark, sf):
    li, p = t(spark, sf, "lineitem"), t(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@q(
    "q04_shuffle_join_3way",
    """SELECT c.c_mktsegment, count(*) AS cnt,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM lineitem l
       JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY c.c_mktsegment""",
)
def q04(spark, sf):
    li, o, c = t(spark, sf, "lineitem"), t(spark, sf, "orders"), t(spark, sf, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@q(
    "q05_left_outer_join",
    """SELECT o.o_orderkey, c.c_name
       FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
       ON o.o_custkey = c.c_custkey
       WHERE o.o_orderkey % 10 = 0""",
)
def q05(spark, sf):
    o = t(spark, sf, "orders").filter(F.col("o_orderkey") % 10 == 0)
    c = t(spark, sf, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left").select("o_orderkey", "c_name")


@q(
    "q06_left_semi_join",
    """SELECT c_custkey, c_name FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 100000)""",
)
def q06(spark, sf):
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@q(
    "q07_left_anti_join",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 250000)""",
)
def q07(spark, sf):
    """Left anti join — also the A18 resume primitive (skip committed)."""
    c = t(spark, sf, "customer")
    o = t(spark, sf, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@q(
    "q08_range_join",
    """SELECT e1.event_id AS signup_id, count(e2.event_id) AS follow_cnt
       FROM events e1 JOIN events e2
         ON e2.user_id = e1.user_id
        AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
       WHERE e1.event_type = 'signup'
       GROUP BY e1.event_id""",
)
def q08(spark, sf):
    e = t_spread(spark, sf, "events")
    e1 = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("u1"), F.col("ts").alias("t1")
    )
    e2 = e.select(F.col("event_id").alias("e2_id"), "user_id", "ts")
    return (
        e1.join(
            e2,
            (e2.user_id == e1.u1)
            & (e2.ts > e1.t1)
            & (e2.ts <= e1.t1 + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("signup_id")
        .agg(F.count("e2_id").alias("follow_cnt"))
    )


@q(
    "q09_asof_join",
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
            s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
            ranked AS (
         SELECT p.event_id AS purchase_id, s.event_id AS signup_id, s.ts AS signup_ts,
                row_number() OVER (PARTITION BY p.event_id
                                   ORDER BY s.ts DESC, s.event_id DESC) AS rn
         FROM p JOIN s ON s.user_id = p.user_id AND s.ts <= p.ts
       )
       SELECT purchase_id, signup_id, signup_ts FROM ranked WHERE rn = 1""",
)
def q09(spark, sf):
    """As-of join: for each purchase, the latest same-user signup at or
    before it — range-join + row_number()=1 (SURVEY Q9)."""
    e = t_spread(spark, sf, "events").select("event_id", "user_id", "ts", "event_type")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("signup_ts")
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("signup_ts").desc(), F.col("signup_id").desc()
    )
    return (
        p.join(s, (s.user_id == p.pu) & (s.signup_ts <= p.pts))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "signup_id", "signup_ts")
    )


@q(
    "q10_tpch_q1_agg",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_discount), 4) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2024-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def q10(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") <= "2024-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q11_count_distinct",
    """SELECT l_returnflag,
              count(DISTINCT l_suppkey) AS n_supp,
              count(DISTINCT l_partkey) AS n_part
       FROM lineitem GROUP BY l_returnflag""",
)
def q11(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
    )


@q("q12_approx_count_distinct")  # ⊘ rows-only: approximate by definition
def q12(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
    )


@q(
    "q13_rollup",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def q13(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
    )


@q(
    "q14_window_rank",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn = 1""",
)
def q14(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@q(
    "q15_window_running_sum",
    """SELECT o_custkey, o_orderkey,
              round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
              round(coalesce(lag(o_totalprice) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey), 0), 2) AS prev_price
       FROM orders WHERE o_custkey % 10 = 0""",
)
def q15(spark, sf):
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t(spark, sf, "orders")
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias("running_total"),
            F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0)), 2).alias("prev_price"),
        )
    )


@q(
    "q16_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q16(spark, sf):
    return (
        t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@q(
    "q17_set_ops",
    """SELECT l_orderkey FROM lineitem WHERE l_quantity > 30
       INTERSECT
       SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05""",
)
def q17(spark, sf):
    li = t(spark, sf, "lineitem")
    a = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    b = li.filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return a.intersect(b)


@q(
    "q18_string_funcs",
    """SELECT p_partkey,
              lower(p_name) AS lname,
              upper(p_brand) AS ubrand,
              substring(p_type, 1, 5) AS type5,
              concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
              CAST(length(trim(p_name)) AS INT) AS name_len,
              regexp_extract(p_type, '([A-Za-z]+)', 1) AS first_word,
              replace(p_name, ' ', '_') AS snake
       FROM part WHERE p_partkey % 7 = 0""",
)
def q18(spark, sf):
    return (
        t(spark, sf, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(
            "p_partkey",
            F.lower("p_name").alias("lname"),
            F.upper("p_brand").alias("ubrand"),
            F.substring("p_type", 1, 5).alias("type5"),
            F.concat_ws("-", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
            F.length(F.trim(F.col("p_name"))).alias("name_len"),
            F.regexp_extract("p_type", r"([A-Za-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", " ", "_").alias("snake"),
        )
    )


@q(
    "q19_datetime_funcs",
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
              CAST(month(o_orderdate) AS INT) AS mo,
              count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY 1, 2""",
)
def q19(spark, sf):
    return (
        t(spark, sf, "orders")
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@q(
    "q20_math_funcs",
    """SELECT l_orderkey, l_linenumber,
              round(abs(l_extendedprice * l_discount), 4) AS disc_amt,
              CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
              CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct,
              round(pow(1 + l_discount, 2), 6) AS compound,
              round(ln(l_extendedprice + 1), 6) AS log_price
       FROM lineitem WHERE l_orderkey % 50 = 0""",
)
def q20(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.abs(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("disc_amt"),
            F.floor("l_quantity").cast(LongType()).alias("qty_floor"),
            F.ceil(F.col("l_tax") * 100).cast(LongType()).alias("tax_pct"),
            F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("compound"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        )
    )


@q(
    "q21_array_funcs",
    """SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS INT) AS n_words,
              CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
              list_contains(string_split(text, ' '), 'spark') AS has_spark,
              array_to_string(list_sort(string_split(text, ' ')[1:2]), '_') AS first2_sorted
       FROM documents WHERE doc_id % 5 = 0""",
)
def q21(spark, sf):
    d = t(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.concat_ws("_", F.sort_array(F.slice(words, 1, 2))).alias("first2_sorted"),
    )


@q(
    "q22_json_funcs",
    """SELECT event_type,
              count(*) AS cnt,
              CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
       FROM events GROUP BY event_type""",
)
def q22(spark, sf):
    e = t(spark, sf, "events")
    # Round 7: `props` is machine-generated flat JSON ('{"k": N}' —
    # asserted 0 non-conforming rows at sf0.1 AND sf1), so the $.k
    # integer is extracted with one regexp instead of a full JSON parse:
    # measured 2.38 s (get_json_object) / 2.6 s (from_json) → 0.51 s at
    # sf1, value-identical on every row of both scale factors (verified
    # by a full-result diff against the get_json_object plan). The bare
    # scan also beats the round-robin spread here: the regexp map work
    # on 1M rows is cheaper than the spread's full-string shuffle. The
    # regexp is anchored to the whole flat payload; anything else
    # (nested, quoted, other keys — an unanchored match would return
    # '' and fail the ANSI cast, or read a nested "k") takes the
    # get_json_object plan. nullif+coalesce, not when(flat != ''),
    # evaluates the regexp once per row (when: +21 % at sf0.1).
    flat = F.regexp_extract("props", '^\\{"k"\\s*:\\s*(-?\\d+)\\}$', 1)
    k = F.coalesce(
        F.nullif(flat, F.lit("")), F.get_json_object("props", "$.k")
    ).cast(LongType())
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@q(
    "q23_conditional_null",
    """SELECT c_custkey,
              CASE WHEN c_acctbal < 0 THEN 'debt'
                   WHEN c_acctbal < 5000 THEN 'low'
                   ELSE 'high' END AS bal_bucket,
              coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'OTHER') AS seg,
              CASE WHEN c_nationkey % 2 = 0 THEN NULL ELSE c_nationkey END AS odd_nation
       FROM customer""",
)
def q23(spark, sf):
    c = t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("AUTOMOBILE")), F.lit("OTHER")).alias("seg"),
        F.when(F.col("c_nationkey") % 2 == 0, F.lit(None)).otherwise(F.col("c_nationkey")).alias("odd_nation"),
    )


# ------------------------------------------------- Q24–Q27: Python UDF surface


@q(
    "q24_pandas_scalar_udf",
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words FROM documents""",
)
def q24(spark, sf):
    """Arrow-vectorized scalar pandas UDF; oracle = the equivalent SQL
    expression (the UDF is the mechanism under test, not the math)."""

    @F.pandas_udf("int")
    def word_count(texts: pd.Series) -> pd.Series:
        return texts.str.split(" ").map(len).astype("int32")

    return t(spark, sf, "documents").select("doc_id", word_count("text").alias("n_words"))


@q(
    "q25_grouped_map_udf",
    """SELECT c_custkey,
              round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_nationkey))
                    / stddev_samp(c_acctbal) OVER (PARTITION BY c_nationkey), 4) AS z
       FROM customer""",
)
def q25(spark, sf):
    """applyInPandas per-nation z-score (pandas std ddof=1 == stddev_samp)."""
    schema = StructType(
        [StructField("c_custkey", LongType()), StructField("z", DoubleType())]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu, sd = pdf.c_acctbal.mean(), pdf.c_acctbal.std(ddof=1)
        return pd.DataFrame(
            {"c_custkey": pdf.c_custkey, "z": ((pdf.c_acctbal - mu) / sd).round(4)}
        )

    return (
        t(spark, sf, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .groupBy("c_nationkey")
        .applyInPandas(zscore, schema)
    )


@q("q26_map_partitions_udf")  # ⊘ rows-only: partition-dependent by design
def q26(spark, sf):
    """mapInPandas partition statistics (the A17 metrics backbone)."""
    from pyspark.sql.types import StringType

    schema = StructType(
        [
            StructField("partition_id", IntegerType()),
            StructField("n_rows", LongType()),
            StructField("min_key", LongType()),
            StructField("max_key", LongType()),
        ]
    )

    def stats(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n, lo, hi = 0, None, None
        for pdf in it:
            n += len(pdf)
            if len(pdf):
                mn, mx = int(pdf.o_orderkey.min()), int(pdf.o_orderkey.max())
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
        yield pd.DataFrame(
            {"partition_id": [pid], "n_rows": [n], "min_key": [lo], "max_key": [hi]}
        )

    return t(spark, sf, "orders").select("o_orderkey").mapInPandas(stats, schema)


@q(
    "q27_grouped_agg_udaf",
    """SELECT c_mktsegment,
              round(CAST(median(c_acctbal) AS DOUBLE), 4) AS median_bal
       FROM customer GROUP BY c_mktsegment""",
)
def q27(spark, sf):
    """GROUPED_AGG pandas UDF (numpy median == SQL percentile_cont(0.5))."""
    import numpy as np

    @F.pandas_udf("double")
    def median_udf(v: pd.Series) -> float:
        return float(np.round(np.median(v.to_numpy()), 4))

    return (
        t(spark, sf, "customer")
        .groupBy("c_mktsegment")
        .agg(median_udf("c_acctbal").alias("median_bal"))
    )


# --------------------------------------------- Q28–Q32: windows / streaming


@q(
    "q28_tumbling_window",
    """SELECT date_trunc('hour', ts) AS ws, event_type,
              count(*) AS cnt, round(sum(value), 2) AS total
       FROM events GROUP BY 1, 2""",
)
def q28(spark, sf):
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt", "total")
    )


@q(
    "q29_sliding_window",
    """SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS ws,
              count(*) AS cnt
       FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(k)
       GROUP BY 1""",
)
def q29(spark, sf):
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )


@q(
    "q30_session_window",
    """WITH g AS (
         SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS new_s
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       ), s AS (
         SELECT user_id, ts,
                sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
         FROM g
       )
       SELECT user_id, min(ts) AS session_start, count(*) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def q30(spark, sf):
    return (
        t(spark, sf, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@q("q31_watermark_late_data")  # ⊘ rows-only: streaming semantics demo
def q31(spark, sf):
    """Structured Streaming: file source replay + watermark + tumbling
    window, Trigger.AvailableNow (SURVEY Q31). Late-drop assertions live
    in tests/test_streaming.py; here the batch result is returned for the
    rows-only check."""
    from . import streaming

    replay = streaming.replay_dir(os.path.join(sf, "events.parquet"), "ts", 10)
    return streaming.run_available_now(
        streaming.windowed_counts(streaming.stream_source(spark, path=replay)), spark
    )


@q(
    "q32_dedup",
    """SELECT event_id, ts, user_id FROM (
         SELECT event_id, ts, user_id,
                row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
         FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
       ) WHERE rn = 1""",
)
def q32(spark, sf):
    e = t(spark, sf, "events").select("event_id", "ts", "user_id")
    dup = e.unionAll(e)
    return dup.dropDuplicates(["event_id"])


@q("q33_stateful_running_totals")  # ⊘ rows-only: custom stateful streaming op
def q33(spark, sf):
    """applyInPandasWithState custom stateful operator (running per-user
    totals across micro-batches); semantics asserted against the batch
    twin in tests/test_streaming.py."""
    from . import streaming

    replay = streaming.replay_dir(os.path.join(sf, "events.parquet"), "ts", 10)
    return streaming.run_available_now(
        streaming.running_user_totals(streaming.stream_source(spark, path=replay)),
        spark,
        output_mode="update",
    )


@q(
    "q34_bucketed_colocated_join",
    """SELECT l.l_orderkey, count(*) AS n_items,
              round(sum(l.l_extendedprice), 2) AS order_price_sum,
              max(o.o_totalprice) AS o_totalprice
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE o.o_orderkey % 25 = 0
       GROUP BY l.l_orderkey""",
)
def q34(spark, sf):
    """Bucketed co-located join: both sides written bucketBy(8, key) so
    the join (and the following groupBy on the same key) runs with ZERO
    shuffle — the scale pattern for repeatedly-joined 100 TB fact tables
    (write-once shuffle amortized across every downstream join).
    tests/test_plans.py asserts the plan has no Exchange."""
    from .conf import cache_root

    tag = os.path.basename(sf.rstrip("/")).replace(".", "_")
    ln, on = f"tes_li_b_{tag}", f"tes_or_b_{tag}"
    base = os.path.join(cache_root(), f"bucketed_{tag}")

    def _fingerprint(src: str) -> str:
        st = os.stat(src)
        return f"{src}:{st.st_size}:{st.st_mtime_ns}"

    def _fresh(name: str, path: str, src: str) -> bool:
        """A cached bucketed table is reusable only if the metastore
        entry, its data dir AND a fingerprint of the source parquet all
        agree — a cleaned cache dir or regenerated testdata otherwise
        serves stale/empty rows that diverge from the DuckDB oracle."""
        if not spark.catalog.tableExists(name) or not os.path.isdir(path):
            return False
        fp = os.path.join(path, "_SRC_FINGERPRINT")
        return os.path.exists(fp) and open(fp).read() == _fingerprint(src)

    def _write(name: str, path: str, src_table: str, key: str, cols: list[str]) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        src = os.path.join(sf, f"{src_table}.parquet")
        (
            t(spark, sf, src_table)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        with open(os.path.join(path, "_SRC_FINGERPRINT"), "w") as fh:
            fh.write(_fingerprint(src))

    if not _fresh(ln, f"{base}/lineitem", os.path.join(sf, "lineitem.parquet")):
        _write(ln, f"{base}/lineitem", "lineitem", "l_orderkey",
               ["l_orderkey", "l_extendedprice"])
    if not _fresh(on, f"{base}/orders", os.path.join(sf, "orders.parquet")):
        _write(on, f"{base}/orders", "orders", "o_orderkey",
               ["o_orderkey", "o_totalprice"])
    li = spark.table(ln)
    o = spark.table(on).filter(F.col("o_orderkey") % 25 == 0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_price_sum"),
            F.max("o_totalprice").alias("o_totalprice"),
        )
    )


@q(
    "q35_udtf_word_explode",
    """SELECT doc_id, word, CAST(count(*) AS INT) AS n
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents WHERE doc_id % 20 = 0)
       GROUP BY doc_id, word""",
)
def q35(spark, sf):
    """Python UDTF (Spark >= 3.5): per-document word fan-out with counts
    — the table-function surface (SURVEY §2-C), lateral-joined in SQL."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, n int")
    class WordCounts:
        def eval(self, text: str):
            if not text:
                return
            counts: dict[str, int] = {}
            for w in text.split(" "):
                counts[w] = counts.get(w, 0) + 1
            for w, n in counts.items():
                yield w, n

    spark.udtf.register("tes_word_counts", WordCounts)
    docs = t(spark, sf, "documents").filter(F.col("doc_id") % 20 == 0)
    docs.createOrReplaceTempView("tes_docs_q35")
    return spark.sql(
        "SELECT d.doc_id, w.word, w.n FROM tes_docs_q35 d, "
        "LATERAL tes_word_counts(d.text) w"
    )


@q(
    "q36_cube",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_extendedprice), 2) AS sum_price, count(*) AS cnt
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def q36(spark, sf):
    return (
        t(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@q(
    "q37_pivot",
    """SELECT c_mktsegment, round(p1, 2) AS p1, round(p2, 2) AS p2, round(p3, 2) AS p3
       FROM (SELECT c_mktsegment, o_orderpriority, o_totalprice
             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
       PIVOT (sum(o_totalprice)
              FOR o_orderpriority IN ('1-URGENT' AS p1, '2-HIGH' AS p2, '3-MEDIUM' AS p3))""",
)
def q37(spark, sf):
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderpriority", "o_totalprice"
    )
    return (
        base.groupBy("c_mktsegment")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .withColumnsRenamed({"1-URGENT": "p1", "2-HIGH": "p2", "3-MEDIUM": "p3"})
    )


@q(
    "q38_exact_percentiles",
    """SELECT c_mktsegment,
              round(CAST(quantile_cont(c_acctbal, 0.25) AS DOUBLE), 4) AS p25,
              round(CAST(quantile_cont(c_acctbal, 0.50) AS DOUBLE), 4) AS p50,
              round(CAST(quantile_cont(c_acctbal, 0.90) AS DOUBLE), 4) AS p90
       FROM customer GROUP BY c_mktsegment""",
)
def q38(spark, sf):
    """Exact interpolated percentiles (Spark `percentile` == SQL
    quantile_cont/percentile_cont semantics)."""
    c = t(spark, sf, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("c_acctbal", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("c_acctbal", F.lit(0.90)), 4).alias("p90"),
    )


@q("q39_stream_stream_join")  # ⊘ rows-only: streaming semantics
def q39(spark, sf):
    """Watermarked stream-stream join (purchases ⋈ signups within 1 hour,
    both sides streaming); batch-equivalence asserted in
    tests/test_streaming.py."""
    from . import streaming

    replay = streaming.replay_dir(os.path.join(sf, "events.parquet"), "ts", 10)
    return streaming.run_available_now(
        streaming.stream_stream_join(spark, replay), spark
    )


@q(
    "q40_binned_range_join",
    """SELECT e1.event_id AS id_a, e2.event_id AS id_b,
              round(abs(e1.value - e2.value), 4) AS dv
       FROM events e1 JOIN events e2
         ON e1.event_type = 'error' AND e2.event_id > e1.event_id
        AND abs(e1.value - e2.value) <= 0.05""",
)
def q40(spark, sf):
    """PURE range join (no natural equi key): |value_a − value_b| ≤ ε.
    Naively this is a BroadcastNestedLoopJoin — O(n·m) at scale. The
    binned form makes it an EQUI join: bucket = floor(value/ε), each left
    row explodes into {b−1, b, b+1}, join on bucket, filter the exact
    predicate. Work scales with bucket occupancy, not n·m; the plan is a
    hash/sort-merge join (asserted in tests)."""
    eps = 0.05
    e = t(spark, sf, "events").select("event_id", "event_type", "value")
    left = (
        e.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("id_a"),
            F.col("value").alias("va"),
            F.explode(
                F.array(
                    (F.floor(F.col("value") / eps) - 1).cast("long"),
                    F.floor(F.col("value") / eps).cast("long"),
                    (F.floor(F.col("value") / eps) + 1).cast("long"),
                )
            ).alias("bucket"),
        )
    )
    right = e.select(
        F.col("event_id").alias("id_b"),
        F.col("value").alias("vb"),
        F.floor(F.col("value") / eps).cast("long").alias("bucket"),
    )
    # No dedup needed: the right side carries exactly ONE bucket per row
    # and the left's three exploded buckets are distinct values, so each
    # qualifying pair matches exactly once — a trailing distinct() would
    # be a redundant full shuffle of the result (plan test asserts no
    # post-join aggregate Exchange).
    return (
        left.join(right, "bucket")
        .filter(
            (F.col("id_b") > F.col("id_a"))
            & (F.abs(F.col("va") - F.col("vb")) <= eps)
        )
        .select("id_a", "id_b", F.round(F.abs(F.col("va") - F.col("vb")), 4).alias("dv"))
    )


@q(
    "q41_range_interval_window",
    """SELECT event_id, user_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW), 2)
                AS hour_sum,
              CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
                    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
                AS BIGINT) AS hour_cnt
       FROM events""",
)
def q41(spark, sf):
    """Time-RANGE window frame (not ROWS): per event, aggregate over the
    trailing hour of the same user's events — range frames include every
    tie, which rows-frames can't express. Spark's rangeBetween works on
    the numeric ORDER BY key, so ts goes through unix seconds; DuckDB
    uses the INTERVAL form directly — identical frame semantics."""
    e = t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_cnt"),
    )


@q(
    "q42_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def q42(spark, sf):
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE are sugar
    for): per-flag totals, per-status totals, and the grand total in one
    pass — one shuffle, the expand operator fans rows per set."""
    t(spark, sf, "lineitem").createOrReplaceTempView("tes_li_q42")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
           FROM tes_li_q42
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
    )


# ------------------------------------------------------ Q43 salted skew join

_SALT_N = 8

_Q43_SQL = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_suppkey END AS supp_sk,
         l_extendedprice, l_quantity
  FROM lineitem
)
SELECT s.s_nationkey AS nationkey,
       count(*) AS n_rows,
       round(sum(f.l_extendedprice), 2) AS revenue
FROM fact f JOIN supplier s ON s.s_suppkey = f.supp_sk
GROUP BY s.s_nationkey
"""


@q("q43_salted_skew_join", _Q43_SQL)
def q43(spark, sf):
    """Salted skew join (round 3): a fact table whose join key is
    DELIBERATELY skewed (25% of rows collapse onto key 0) joins a dim
    without any single reducer owning the hot key. Standard salting:
    fact rows get salt = pmod(xxhash64(payload), N) — deterministic,
    uniform — and the dim side explodes ×N, so the hot key's rows spread
    over N reducers; the (key, salt) equi-join is value-identical to the
    plain join, which IS the DuckDB oracle. At 100 TB this is the manual
    fallback when AQE's skew split can't apply (e.g. the skew is in a
    shuffle feeding an aggregation, or pre-3.0 clusters); N scales with
    the hot key's row share."""
    li = t(spark, sf, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 4 == 0, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("supp_sk"),
        "l_extendedprice",
        "l_quantity",
        F.pmod(F.xxhash64("l_extendedprice", "l_quantity"), F.lit(_SALT_N)).alias(
            "salt"
        ),
    )
    dim = t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("supp_sk"),
        "s_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1))).alias("salt"),
    )
    joined = fact.join(dim.hint("shuffle_hash"), ["supp_sk", "salt"])
    return joined.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )
