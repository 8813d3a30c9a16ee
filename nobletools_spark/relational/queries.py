"""Relational operator surface (SURVEY.md §2.J) + training-data-pipeline ops.

Each entry pairs a Spark DataFrame program with the exact ANSI-SQL oracle
DuckDB runs on the same parquet (driver contract: row-count + schema +
order-insensitive value-hash). Conventions that keep the two sides
hash-identical:
- every computed column aliased the same on both sides;
- floating aggregates rounded (sum->2dp, ratios->4dp) so engine-order
  summation noise can't flip the hash;
- counts/years cast to BIGINT on the Spark side (DuckDB defaults);
- top-k queries carry total tiebreakers so LIMIT is deterministic.

Scale notes are attached per query: broadcast hints where a dim is small,
no collect anywhere, aggregates are partial-aggregated map-side by Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@dataclass(frozen=True)
class QueryDef:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check (non-SQL-expressible)


QUERIES: dict[str, QueryDef] = {}


def _q(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = QueryDef(spark=fn, oracle=oracle)
        return fn
    return deco


# ---------------------------------------------------------------- scans ----

@_q("scan_filter_project", """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
  AND l_quantity < 25
ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice
""")
def scan_filter_project(spark, sf):
    # predicate + projection reach the parquet scan (PushedFilters/ReadSchema)
    li = load(spark, sf, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1995-01-01")
                     & (F.col("l_discount") > 0.05) & (F.col("l_quantity") < 25))
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
            .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"))


# ------------------------------------------------------------ aggregates ----

@_q("agg_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                             AS sum_qty,
       round(sum(l_extendedprice), 2)                        AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)     AS sum_disc_price,
       round(avg(l_quantity), 4)                             AS avg_qty,
       round(avg(l_discount), 4)                             AS avg_disc,
       count(*)                                              AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf):
    # TPC-H Q1 shape: map-side partial agg -> single shuffle on 2 keys
    li = load(spark, sf, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@_q("distinct_counts", """
SELECT count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses,
       count(*) AS n_orders
FROM orders
""")
def distinct_counts(spark, sf):
    o = load(spark, sf, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.countDistinct("o_orderstatus").alias("n_statuses"),
                 F.count(F.lit(1)).alias("n_orders"))


@_q("rollup_status_priority", """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
""")
def rollup_status_priority(spark, sf):
    o = load(spark, sf, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "n", "total")
            .orderBy("status", "priority"))


@_q("cube_nation_segment", """
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(c_mktsegment, 'ALL') AS segment,
       count(*) AS n_cust, round(avg(c_acctbal), 4) AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
ORDER BY nation, segment
""")
def cube_nation_segment(spark, sf):
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .cube("n_name", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
            .select(F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
                    "n_cust", "avg_bal")
            .orderBy("nation", "segment"))


# ----------------------------------------------------------------- joins ----

@_q("join_revenue_by_nation", """
SELECT n_name AS nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY nation
""")
def join_revenue_by_nation(spark, sf):
    # TPC-H Q5 shape: fact-fact shuffle joins on keys; nation/region are
    # broadcast so only lineitem|x|orders|x|customer shuffle.
    li, o = load(spark, sf, "lineitem"), load(spark, sf, "orders")
    c, n, r = (load(spark, sf, "customer"), load(spark, sf, "nation"),
               load(spark, sf, "region"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .where(F.col("r_name") == "ASIA")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy("nation"))


@_q("semi_join_active_customers", """
SELECT c_custkey, c_name
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
ORDER BY c_custkey
""")
def semi_join_active_customers(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    big = o.where(F.col("o_totalprice") > 200000)
    return (c.join(big, c.c_custkey == big.o_custkey, "left_semi")
            .select("c_custkey", "c_name").orderBy("c_custkey"))


@_q("anti_join_idle_customers", """
SELECT c_mktsegment AS segment, count(*) AS n_idle
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
ORDER BY segment
""")
def anti_join_idle_customers(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_idle"))
            .orderBy("segment"))


@_q("broadcast_join_part_supplier", """
SELECT p_brand AS brand, s_name AS supplier_name,
       round(sum(l_extendedprice), 2) AS total_price
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size <= 10
GROUP BY p_brand, s_name
ORDER BY brand, supplier_name
""")
def broadcast_join_part_supplier(spark, sf):
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").where(F.col("p_size") <= 10)
    s = load(spark, sf, "supplier")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .groupBy(F.col("p_brand").alias("brand"),
                     F.col("s_name").alias("supplier_name"))
            .agg(F.round(F.sum("l_extendedprice"), 2).alias("total_price"))
            .orderBy("brand", "supplier_name"))


# --------------------------------------------------------------- windows ----

@_q("window_top_orders_per_customer", """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn <= 3
ORDER BY o_custkey, rn
""")
def window_top_orders_per_customer(spark, sf):
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
            .orderBy("o_custkey", "rn"))


@_q("window_running_user_value", """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS prev_type
FROM events
ORDER BY user_id, event_id
""")
def window_running_user_value(spark, sf):
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.select("user_id", "event_id",
                     F.round(F.sum("value").over(
                         w.rowsBetween(Window.unboundedPreceding, 0)), 2)
                     .alias("running_value"),
                     F.lag("event_type").over(w).alias("prev_type"))
            .orderBy("user_id", "event_id"))


# ------------------------------------------------------- sorts / set ops ----

@_q("topk_expensive_lineitems", """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""")
def topk_expensive_lineitems(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
            .limit(20))


@_q("set_ops_customer_tiers", """
WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
     market AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
SELECT 'both' AS tier, count(*) AS n FROM (SELECT * FROM rich INTERSECT SELECT * FROM market) t
UNION ALL
SELECT 'rich_only' AS tier, count(*) AS n FROM (SELECT * FROM rich EXCEPT SELECT * FROM market) t
UNION ALL
SELECT 'all' AS tier, count(*) AS n FROM (SELECT * FROM rich UNION SELECT * FROM market) t
ORDER BY tier
""")
def set_ops_customer_tiers(spark, sf):
    c = load(spark, sf, "customer")
    rich = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    market = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = rich.intersect(market).agg(F.count(F.lit(1)).alias("n")) \
               .select(F.lit("both").alias("tier"), "n")
    only = rich.exceptAll(market).distinct().agg(F.count(F.lit(1)).alias("n")) \
               .select(F.lit("rich_only").alias("tier"), "n")
    alln = rich.union(market).distinct().agg(F.count(F.lit(1)).alias("n")) \
               .select(F.lit("all").alias("tier"), "n")
    return both.unionByName(only).unionByName(alln).orderBy("tier")


# ------------------------------------------------- scalar function suite ----

@_q("string_functions", """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substr(p_name, 1, 10) AS name_prefix,
       length(p_name) AS name_len,
       concat(p_brand, ':', p_type) AS brand_type,
       replace(p_type, ' ', '_') AS type_snake
FROM part
WHERE p_partkey <= 200
ORDER BY p_partkey
""")
def string_functions(spark, sf):
    p = load(spark, sf, "part")
    return (p.where(F.col("p_partkey") <= 200)
            .select("p_partkey",
                    F.upper("p_brand").alias("brand_upper"),
                    F.substring("p_name", 1, 10).alias("name_prefix"),
                    F.length("p_name").cast("long").alias("name_len"),
                    F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
                    F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"))
            .orderBy("p_partkey"))


@_q("date_functions", """
SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(extract(month FROM o_orderdate) AS BIGINT) AS order_month,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY 1, 2
ORDER BY order_year, order_month
""")
def date_functions(spark, sf):
    o = load(spark, sf, "orders")
    return (o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"),
                      F.month("o_orderdate").cast("long").alias("order_month"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("order_year", "order_month"))


@_q("case_math_functions", """
SELECT l_returnflag,
       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0 END), 2)
         AS discounted_revenue,
       round(sum(sqrt(l_quantity)), 4) AS sum_sqrt_qty,
       round(sum(abs(l_extendedprice - 1000.0)), 2) AS sum_abs_dev,
       max(CAST(floor(l_quantity) AS BIGINT)) AS max_floor_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""")
def case_math_functions(spark, sf):
    li = load(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.sum(F.when(F.col("l_discount") > 0.05,
                                      F.col("l_extendedprice")).otherwise(0.0)), 2)
                 .alias("discounted_revenue"),
                 F.round(F.sum(F.sqrt("l_quantity")), 4).alias("sum_sqrt_qty"),
                 F.round(F.sum(F.abs(F.col("l_extendedprice") - 1000.0)), 2)
                 .alias("sum_abs_dev"),
                 F.max(F.floor("l_quantity").cast("long")).alias("max_floor_qty"))
            .orderBy("l_returnflag"))


# ------------------------------------------- training-data pipeline ops ----

@_q("dedup_exact_documents", """
SELECT n_dups, count(*) AS n_groups
FROM (SELECT md5(text) AS h, count(*) AS n_dups FROM documents GROUP BY md5(text)) t
GROUP BY n_dups
ORDER BY n_dups
""")
def dedup_exact_documents(spark, sf):
    # exact dedup: hash-groupBy on content digest; at 100 TB this is the
    # canonical single-shuffle dedup (hash is computed map-side, shuffle
    # carries only the 32-byte digest + count)
    d = load(spark, sf, "documents")
    return (d.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
            .agg(F.count(F.lit(1)).alias("n_dups"))
            .groupBy("n_dups").agg(F.count(F.lit(1)).alias("n_groups"))
            .orderBy("n_dups"))


@_q("doc_token_stats", """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
       round(avg(len(string_split_regex(trim(text), '\\s+'))), 4) AS avg_tokens,
       CAST(max(length(text)) AS BIGINT) AS max_chars
FROM documents
WHERE length(trim(text)) > 0
GROUP BY lang
ORDER BY lang
""")
def doc_token_stats(spark, sf):
    d = load(spark, sf, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (d.where(F.length(F.trim("text")) > 0)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(toks).cast("long").alias("total_tokens"),
                 F.round(F.avg(toks), 4).alias("avg_tokens"),
                 F.max(F.length("text")).cast("long").alias("max_chars"))
            .orderBy("lang"))


@_q("doc_quality_scores", """
SELECT doc_id,
       round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS alpha_ratio,
       round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS digit_ratio,
       round(CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
             / length(text), 4) AS punct_ratio,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens
FROM documents
WHERE length(text) > 0 AND doc_id <= 500
ORDER BY doc_id
""")
def doc_quality_scores(spark, sf):
    d = load(spark, sf, "documents")
    ln = F.length("text").cast("double")

    def ratio(keep_re):
        return F.round(F.length(F.regexp_replace("text", keep_re, "")) / ln, 4)

    return (d.where((F.length("text") > 0) & (F.col("doc_id") <= 500))
            .select("doc_id",
                    ratio("[^a-zA-Z]").alias("alpha_ratio"),
                    ratio("[^0-9]").alias("digit_ratio"),
                    ratio("[^.!?,;:]").alias("punct_ratio"),
                    F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"))
            .orderBy("doc_id"))


@_q("gopher_repetition_stats", """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
  FROM documents
  WHERE length(trim(text)) > 0
    AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 3
), uni AS (
  SELECT doc_id, max(c) AS mx FROM (
    SELECT doc_id, t, count(*) AS c
    FROM (SELECT doc_id, unnest(l) AS t FROM base) GROUP BY doc_id, t
  ) GROUP BY doc_id
), bi AS (
  SELECT doc_id, max(c) AS mx FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest(list_transform(range(1, len(l)),
                 i -> l[i] || ' ' || l[i+1])) AS g FROM base)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
), tri AS (
  SELECT doc_id,
         CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg) AS dupf
  FROM (SELECT doc_id, list_transform(range(1, len(l) - 1),
               i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS tg FROM base)
)
SELECT b.doc_id,
       CAST(len(b.l) AS BIGINT) AS n_tokens,
       round(CAST(uni.mx AS DOUBLE) / len(b.l), 4) AS top_unigram_frac,
       round(CAST(bi.mx AS DOUBLE) / (len(b.l) - 1), 4) AS top_bigram_frac,
       round(tri.dupf, 4) AS dup_trigram_frac
FROM base b
JOIN uni USING (doc_id) JOIN bi USING (doc_id) JOIN tri USING (doc_id)
ORDER BY doc_id
""")
def gopher_repetition_stats(spark, sf):
    # Gopher-style repetition signals as narrow JVM expressions — the
    # sorted-array run scan in _max_multiplicity replaces the per-doc
    # explode+groupBy a naive port would shuffle on (pure map stage at
    # any corpus scale).
    from ..textdata.analysis import repetition_stats
    return repetition_stats(load(spark, sf, "documents")).orderBy("doc_id")


@_q("c4_quality_filters", """
SELECT doc_id,
       CAST(len(l) AS BIGINT) AS n_words,
       round(CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
             / len(l), 4) AS mean_word_len,
       len(l) BETWEEN 30 AND 1000 AS ok_word_count,
       round(CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
             / len(l), 4) BETWEEN 4.0 AND 5.0 AS ok_mean_len,
       len(list_filter(l, t -> t IN ('the','a','an','and','or','of','to',
                                     'in','is','was'))) > 0 AS has_stop_word,
       (len(l) BETWEEN 30 AND 1000)
         AND (round(CAST(list_sum(list_transform(l, x -> length(x)))
                         AS DOUBLE) / len(l), 4) BETWEEN 4.0 AND 5.0)
         AND len(list_filter(l, t -> t IN ('the','a','an','and','or','of',
                                           'to','in','is','was'))) > 0
         AS keep
FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
      FROM documents WHERE length(trim(text)) > 0)
ORDER BY doc_id
""")
def c4_quality_filters(spark, sf):
    from ..textdata.analysis import c4_filters
    return c4_filters(load(spark, sf, "documents")).orderBy("doc_id")


@_q("substring_dup_spans", """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\W+') AS l
  FROM documents WHERE length(trim(text)) > 0
), g AS (
  SELECT doc_id, pos,
         substr(md5(l[pos] || ' ' || l[pos+1] || ' ' || l[pos+2]), 1, 16)
           AS gh
  FROM (SELECT doc_id, l,
               unnest(CASE WHEN len(l) >= 3 THEN range(1, len(l) - 1)
                           ELSE []::BIGINT[] END) AS pos
        FROM base)
), dup AS (
  SELECT doc_id, pos FROM g
  WHERE gh IN (SELECT gh FROM g GROUP BY gh
               HAVING min(doc_id) <> max(doc_id))
), lagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos - lag(pos) OVER w > 3 THEN 1 ELSE 0 END AS new_run
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), runs AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM lagged
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + 2 AS BIGINT) AS end_tok,
       CAST(max(pos) + 2 - min(pos) + 1 AS BIGINT) AS span_tokens
FROM runs GROUP BY doc_id, run
ORDER BY doc_id, start_tok
""")
def substring_dup_spans(spark, sf):
    # Lee-et-al-style exact-substring dedup: maximal cross-document
    # repeated token runs. Two hash shuffles (gram key, then doc_id) —
    # the suffix-array semantics without the suffix array.
    from ..textdata.dedup import substring_dup_spans as spans
    return (spans(load(spark, sf, "documents"))
            .orderBy("doc_id", "start_tok"))


@_q("lang_id_heuristic", """
SELECT guessed_lang, count(*) AS n
FROM (
  SELECT CASE
    WHEN length(text) = 0 THEN 'unknown'
    WHEN (length(text) - length(replace(lower(text), ' the ', '')))
       + (length(text) - length(replace(lower(text), ' and ', ''))) > 0 THEN 'en'
    WHEN (length(text) - length(replace(lower(text), ' der ', '')))
       + (length(text) - length(replace(lower(text), ' und ', ''))) > 0 THEN 'de'
    WHEN (length(text) - length(replace(lower(text), ' le ', '')))
       + (length(text) - length(replace(lower(text), ' la ', ''))) > 0 THEN 'fr'
    ELSE 'unknown' END AS guessed_lang
  FROM documents) t
GROUP BY guessed_lang
ORDER BY guessed_lang
""")
def lang_id_heuristic(spark, sf):
    # stopword-marker language ID; JVM-side string ops only (no UDF)
    d = load(spark, sf, "documents")
    low = F.lower(F.col("text"))

    def hits(*words):
        e = F.lit(0)
        for w in words:
            e = e + (F.length("text") - F.length(F.replace(low, F.lit(f" {w} "), F.lit("")))
                     )
        return e

    guessed = (F.when(F.length("text") == 0, "unknown")
               .when(hits("the", "and") > 0, "en")
               .when(hits("der", "und") > 0, "de")
               .when(hits("le", "la") > 0, "fr")
               .otherwise("unknown"))
    return (d.select(guessed.alias("guessed_lang"))
            .groupBy("guessed_lang").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("guessed_lang"))


@_q("ngram_shingles", """
SELECT doc_id, shingle
FROM (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))) AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\W+') AS toks
        FROM documents WHERE doc_id <= 50) t1
) t2
WHERE shingle <> '' ORDER BY doc_id, shingle
""")
def ngram_shingles(spark, sf):
    # 3-gram shingling: the map side of MinHash dedup, JVM-side only
    d = load(spark, sf, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\W+")
    d = d.where(F.col("doc_id") <= 50).select("doc_id", toks.alias("toks"))
    n = F.greatest(F.size("toks") - 2, F.lit(0))
    shingles = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.element_at("toks", i),
                              F.element_at("toks", i + 1),
                              F.element_at("toks", i + 2)))
    return (d.select("doc_id", F.explode(shingles).alias("shingle"))
            .where(F.col("shingle") != "")
            .orderBy("doc_id", "shingle"))


@_q("embedding_cosine_topk", """
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
     scored AS (
       SELECT vec_id, label,
              round(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST((SELECT p FROM probe) AS DOUBLE[]))
                    / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(CAST((SELECT p FROM probe) AS DOUBLE[]),
                                             CAST((SELECT p FROM probe) AS DOUBLE[])))), 4)
                AS cosine
       FROM embeddings WHERE vec_id <> 0)
SELECT vec_id, label, cosine FROM scored
ORDER BY cosine DESC, vec_id LIMIT 10
""")
def embedding_cosine_topk(spark, sf):
    # brute-force ANN baseline: JVM-side F.aggregate/zip_with dot products;
    # the probe vector is a broadcast scalar (collected once, 1 row)
    e = load(spark, sf, "embeddings")
    probe = e.where(F.col("vec_id") == 0).select("embedding").head()[0]
    plit = F.array(*[F.lit(float(x)) for x in probe])
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with("_v", plit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.sqrt(F.aggregate(F.zip_with("_v", "_v", lambda a, b: a * b),
                             F.lit(0.0), lambda acc, x: acc + x))
    pn = float(sum(float(x) * float(x) for x in probe)) ** 0.5
    # _spread: the one-split parquet corpus would run the interpreted
    # HOF dot products on a single task; TakeOrdered then merges the
    # per-partition top-10s, so the scan parallelizes cleanly. The cast
    # vector is projected once: dot and norm name it three times.
    return (_spread(spark, e.where(F.col("vec_id") != 0))
            .select("vec_id", "label", vec.alias("_v"))
            .select("vec_id", "label",
                    F.round(dot / (nrm * F.lit(pn)), 4).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id").limit(10))


def _spread(spark, df):
    """Small-file corpora arrive as one split; the heavy per-row map ops
    (shingling, 64-slot minhash, decode) then run on one task. A real
    100 TB scan has thousands of splits, so spreading to the session's
    parallelism reproduces the plan a big input would get."""
    return df.repartition(spark.sparkContext.defaultParallelism)


# ----------------------------------- dedup / similarity / multimodal ops ----
# (implementations in nobletools_spark.textdata; registered here so the
# driver's DuckDB oracle exercises the SQL-expressible ones)

@_q("jaccard_neardup_pairs", """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\W+') toks
           FROM documents),
sh AS (SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks)-2,0)+1),
           i -> concat(toks[i],' ',toks[i+1],' ',toks[i+2]))) s
       FROM d),
s2 AS (SELECT DISTINCT doc_id, s FROM sh WHERE s <> ''),
p AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM s2 a
      JOIN s2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
z AS (SELECT doc_id, count(*) n FROM s2 GROUP BY 1)
SELECT p.a, p.b, round(i*1.0/(za.n+zb.n-i), 4) AS jaccard
FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
WHERE i*1.0/(za.n+zb.n-i) >= 0.8
ORDER BY a, b
""")
def jaccard_neardup_pairs(spark, sf):
    # exact n-gram Jaccard via inverted-index join (the oracle twin of the
    # MinHash/LSH path); shuffle keys on shingle
    from ..textdata.dedup import exact_jaccard_pairs
    d = _spread(spark, load(spark, sf, "documents"))
    return (exact_jaccard_pairs(d, threshold=0.8)
            .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a", "b"))


_JACCARD_PAIRS_CTE = """
d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\W+') toks
      FROM documents),
sh AS (SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(toks)-2,0)+1),
           i -> concat(toks[i],' ',toks[i+1],' ',toks[i+2]))) s
       FROM d),
s2 AS (SELECT DISTINCT doc_id, s FROM sh WHERE s <> ''),
p AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM s2 a
      JOIN s2 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
z AS (SELECT doc_id, count(*) n FROM s2 GROUP BY 1)
"""


@_q("minhash_neardup_pairs", f"""
WITH {_JACCARD_PAIRS_CTE}
SELECT p.a, p.b, round(i*1.0/(za.n+zb.n-i), 4) AS jaccard
FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
WHERE i*1.0/(za.n+zb.n-i) >= 0.8
ORDER BY a, b
""")
def minhash_neardup_pairs(spark, sf):
    # oracle-checked against the EXACT n-gram Jaccard pairs: with 64
    # hashes / 16 bands, banding recall at J>=0.8 is ~1-2e-4 per pair, and
    # the star->component->completion emission restores every within-
    # bucket pair (see textdata.dedup.minhash_dup_pairs), so the verified
    # output equals the exact pair set on these corpora (also pinned at
    # sf0.001 by tests/test_textdata.py)
    from ..textdata.dedup import minhash_dup_pairs
    d = _spread(spark, load(spark, sf, "documents"))
    return (minhash_dup_pairs(d, threshold=0.8)
            .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a", "b"))


@_q("minhash_dup_groups", f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTE},
p2 AS (SELECT p.a, p.b
       FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
       WHERE i*1.0/(za.n+zb.n-i) >= 0.8),
und(x, y) AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
reach(x, y) AS (SELECT x, y FROM und
                UNION
                SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x
                WHERE r.x <> u.y)
SELECT x AS doc_id, least(x, min(y)) AS group_id
FROM reach GROUP BY x ORDER BY doc_id
""")
def minhash_dup_groups(spark, sf):
    # the 100 TB dedup surface: duplicate GROUPS (linear) instead of pair
    # listing (quadratic in cluster size); the oracle independently
    # recomputes the groups as a recursive transitive closure over the
    # exact-Jaccard pair graph
    from ..textdata.dedup import minhash_dup_groups as impl
    d = _spread(spark, load(spark, sf, "documents"))
    return impl(d, threshold=0.8).orderBy("doc_id")


@_q("simhash_neardup_pairs", r"""
WITH dd AS (SELECT doc_id, lower(text) t FROM documents),
dt AS (SELECT DISTINCT doc_id,
              unnest(list_filter(string_split_regex(t, '\s+'),
                                 x -> x <> '')) tok
       FROM dd),
h AS (SELECT doc_id, tok,
        list_reduce(list_transform(string_split(substr(md5(tok), 1, 16), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)),
          (a, b) -> a * 16 + b) AS hv
      FROM dt),
votes AS (SELECT doc_id, u.b,
            sum(CASE WHEN (hv >> (63 - u.b)) & 1 = 1 THEN 1 ELSE -1 END) v
          FROM h CROSS JOIN LATERAL unnest(range(0, 64)) u(b)
          GROUP BY doc_id, u.b),
sig0 AS (SELECT doc_id,
           sum(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << (63 - b)
                    ELSE CAST(0 AS HUGEINT) END) s
         FROM votes GROUP BY doc_id),
sigs AS (SELECT d.doc_id,
           CAST(coalesce(CASE WHEN s >= CAST(1 AS HUGEINT) << 63
                              THEN s - (CAST(1 AS HUGEINT) << 64)
                              ELSE s END, 0) AS BIGINT) sig
         FROM (SELECT DISTINCT doc_id FROM dd) d
         LEFT JOIN sig0 s USING (doc_id))
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY a, b
""")
def simhash_neardup_pairs(spark, sf):
    # oracle-checked: the DuckDB side recomputes the identical md5-based
    # 64-bit SimHash per document and brute-forces all pairs; the Spark
    # side's 4x16-bit pigeonhole banding has recall EXACTLY 1 at
    # hamming<=3 (not probabilistic), so the outputs match bit-for-bit
    from ..textdata.dedup import simhash_neardup_pairs as impl
    d = _spread(spark, load(spark, sf, "documents"))
    return (impl(d, max_hamming=3)
            .select("a", "b", F.col("hamming").cast("int").alias("hamming"))
            .orderBy("a", "b"))


@_q("embedding_neardup_pairs", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v,b.v) /
             (sqrt(list_dot_product(a.v,a.v)) *
              sqrt(list_dot_product(b.v,b.v))), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v,b.v) /
      (sqrt(list_dot_product(a.v,a.v)) * sqrt(list_dot_product(b.v,b.v)))
      >= 0.4
ORDER BY a, b
""")
def embedding_neardup_pairs(spark, sf):
    # brute-force cosine near-dup baseline (oracle-checked); the LSH
    # variant below is the scale path
    from ..textdata.dedup import embedding_neardup_pairs as impl
    e = load(spark, sf, "embeddings")
    return impl(e, threshold=0.4).orderBy("a", "b")


@_q("embedding_ann_lsh_pairs", """
WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings),
u AS (SELECT id, list_transform(ev, x -> x / sqrt(
        list_reduce(list_transform(ev, y -> y * y), (a, b) -> a + b))) AS v
      FROM e),
pl AS (  -- md5-derived hyperplane components, re-derived independently
  SELECT p.p, d.d,
         CAST(list_reduce(list_transform(
           string_split(substr(md5(p.p || ':' || d.d), 1, 15), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, x) -> a * 16 + x) AS DOUBLE)
           / 1152921504606846976.0 - 0.5 AS c
  FROM range(0, 16) p(p), range(1, 65) d(d)),
plv AS (SELECT p, list(c ORDER BY d) AS pv FROM pl GROUP BY p),
proj AS (
  SELECT u.id, plv.p,
         list_reduce(list_transform(range(1, 65),
           i -> u.v[CAST(i AS INT)] * plv.pv[CAST(i AS INT)]),
           (a, x) -> a + x) AS pr
  FROM u, plv),
keys AS (
  SELECT id, CAST(p // 2 AS INT) AS band,
         string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY p) AS key
  FROM proj GROUP BY id, p // 2),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM keys x JOIN keys y
    ON x.band = y.band AND x.key = y.key AND x.id < y.id),
cc AS (
  SELECT c.a, c.b,
         round(list_reduce(list_transform(range(1, 65),
           i -> ua.v[CAST(i AS INT)] * ub.v[CAST(i AS INT)]),
           (a, x) -> a + x), 4) AS cosine
  FROM cand c
  JOIN u ua ON ua.id = c.a
  JOIN u ub ON ub.id = c.b)
SELECT a, b, cosine FROM cc WHERE cosine >= 0.4 ORDER BY a, b
""")
def embedding_ann_lsh_pairs(spark, sf):
    # fully oracle-checked: the hyperplanes are md5-derived literals
    # (dedup._md5_planes), so DuckDB independently re-derives the plane
    # matrix, signatures, band buckets, candidate set, AND the exact
    # cosine verify — the complete LSH pipeline, not just its output
    from ..textdata.dedup import embedding_lsh_neardup_pairs as impl
    e = load(spark, sf, "embeddings")
    return impl(e, threshold=0.4, dim=64).orderBy("a", "b")


@_q("embedding_ann_lsh_recall", """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
p AS (SELECT a.vec_id AS a, b.vec_id AS b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v,b.v) /
            (sqrt(list_dot_product(a.v,a.v)) *
             sqrt(list_dot_product(b.v,b.v))) >= 0.4)
SELECT count(*) AS n_true_pairs, TRUE AS lsh_subset_ok, TRUE AS recall_ok
FROM p
""")
def embedding_ann_lsh_recall(spark, sf):
    """Hard contract for the LSH scale path (VERDICT r1 #3): the oracle
    independently computes the ground-truth pair count by brute force and
    this query asserts (a) every LSH pair is a true pair (subset — the
    exact-cosine verify guarantees it) and (b) recall >= 0.9 (the banded
    random-hyperplane scheme at planes=16/bands=8 measures 1.0 at sf0.01,
    0.98 at sf0.1)."""
    from ..textdata.dedup import (embedding_lsh_neardup_pairs,
                                  embedding_neardup_pairs)
    e = load(spark, sf, "embeddings")
    brute = (embedding_neardup_pairs(e, threshold=0.4)
             .select("a", "b", F.lit(1).alias("t")))
    lsh = (embedding_lsh_neardup_pairs(e, threshold=0.4, planes=16,
                                       bands=8, dim=64)
           .select("a", "b", F.lit(1).alias("l")))
    # one full-outer join -> one aggregation pass over both pair sets
    j = brute.join(lsh, ["a", "b"], "full_outer")
    return j.agg(
        F.count("t").alias("n_true_pairs"),
        (F.count(F.when(F.col("l").isNotNull() & F.col("t").isNull(), 1))
         == 0).alias("lsh_subset_ok"),
        (F.count(F.when(F.col("l").isNotNull() & F.col("t").isNotNull(), 1))
         >= F.ceil(F.count("t") * 0.9)).alias("recall_ok"))


@_q("token_counts_bpe", """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
       length(text) AS chars
FROM documents ORDER BY doc_id
""")
def token_counts_bpe(spark, sf):
    from ..textdata.analysis import token_counts
    d = load(spark, sf, "documents")
    return token_counts(d).orderBy("doc_id")


@_q("doc_fingerprint_groups", """
WITH fp AS (
  SELECT doc_id,
         array_to_string(list_slice(list_sort(list_transform(
           range(1, greatest(length(text) - 15, 0) + 1),
           i -> list_reduce(list_transform(
                  string_split(substr(md5(substr(text, i, 16)), 1, 15), ''),
                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                (a, b) -> a * 16 + b))), 1, 4), ',') AS fingerprint
  FROM documents)
SELECT fingerprint,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids,
       count(*) AS n_docs
FROM fp GROUP BY fingerprint HAVING count(*) > 1
ORDER BY fingerprint
""")
def doc_fingerprint_groups(spark, sf):
    # oracle-checked: DuckDB recomputes the identical md5-window winnowing
    # sketch (15 hex chars -> int64) per document and regroups
    from ..textdata.analysis import fingerprint_dup_groups
    d = _spread(spark, load(spark, sf, "documents"))
    return fingerprint_dup_groups(d).orderBy("fingerprint")


@_q("media_decode_dims", """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://' || CAST(doc_id AS VARCHAR) || '/1' AS media_ref
  FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN
        ('0','2','4','6','8','a','c','e')),
h AS (SELECT doc_id, media_ref,
        list_transform(range(0, 3), i ->
          list_reduce(list_transform(
            string_split(substr(sha256(media_ref), 1 + i*2, 2), ''),
            c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
            (a, b) -> a * 16 + b)) AS b
      FROM m)
SELECT doc_id, media_ref,
       CAST(64 + b[1] % 192 AS INT) AS width,
       CAST(64 + b[2] % 192 AS INT) AS height,
       CAST(CASE b[3] % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT)
         AS channels
FROM h ORDER BY doc_id, media_ref
""")
def media_decode_dims(spark, sf):
    # oracle-checked end to end: the media bytes are minimal VALID PNGs
    # whose IHDR fields derive from sha256(media_ref); the pure-stdlib
    # header decoder extracts them back, and DuckDB recomputes the same
    # dimensions directly from the hex digest
    from ..pipeline.documents import interleave_flat_documents
    from ..textdata.multimodal import decode_images, media_table
    flat = load(spark, sf, "documents")
    media = media_table(interleave_flat_documents(flat))
    return (decode_images(media)
            .select("doc_id", "media_ref", "width", "height", "channels")
            .orderBy("doc_id", "media_ref"))


@_q("media_feature_vectors", """
WITH m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://' || CAST(doc_id AS VARCHAR) || '/1' AS media_ref
  FROM documents),
h AS (
  SELECT doc_id, media_ref,
         sha256(media_ref) || sha256(media_ref || ':1') AS hx
  FROM m),
b AS (
  SELECT doc_id, media_ref,
         list_transform(range(0, 64), i ->
           list_reduce(list_transform(
             string_split(substr(hx, 1 + i*2, 2), ''),
             c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
             (a, x) -> a * 16 + x)) AS bytes
  FROM h)
SELECT doc_id, media_ref,
       CAST(64 AS INT) AS dim,
       round(list_reduce(list_transform(bytes, x -> x / 256.0 - 0.5),
                         (a, x) -> a + x), 4) AS checksum,
       round(bytes[1] / 256.0 - 0.5, 6) AS head
FROM b ORDER BY doc_id, media_ref
""")
def media_feature_vectors(spark, sf):
    # oracle-checked: the stub embedding derives from sha256(media_ref)
    # blocks with exactly-representable components (byte/256 - 0.5), so
    # DuckDB recomputes dim, the component sum, and the first component
    # bit-for-bit from the hex digest alone
    from ..pipeline.documents import interleave_flat_documents
    from ..textdata.multimodal import media_features, media_table
    flat = load(spark, sf, "documents")
    media = media_table(interleave_flat_documents(flat))
    return (media_features(media)
            .select("doc_id", "media_ref",
                    F.size("embedding").alias("dim"),
                    F.round(F.aggregate(
                        "embedding", F.lit(0.0),
                        lambda a, x: a + x.cast("double")), 4)
                    .alias("checksum"),
                    F.round(F.element_at("embedding", 1).cast("double"), 6)
                    .alias("head"))
            .orderBy("doc_id", "media_ref"))


# ------------------------------------------------ SQL-surface operators ----

@_q("grouping_sets_revenue", """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY status, priority
""")
def grouping_sets_revenue(spark, sf):
    # exercised through spark.sql to cover the SQL surface (same plan as
    # the DataFrame rollup/cube family: one Expand + hash aggregate)
    load(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")


@_q("exists_subquery_returned_parts", """
SELECT p_brand AS brand, count(*) AS n_parts
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_returnflag = 'R')
GROUP BY p_brand
ORDER BY brand
""")
def exists_subquery_returned_parts(spark, sf):
    # correlated EXISTS -> Catalyst plans a left-semi hash join
    load(spark, sf, "part").createOrReplaceTempView("part_ex")
    load(spark, sf, "lineitem").createOrReplaceTempView("lineitem_ex")
    return spark.sql("""
        SELECT p_brand AS brand, count(*) AS n_parts
        FROM part_ex p
        WHERE EXISTS (SELECT 1 FROM lineitem_ex l
                      WHERE l.l_partkey = p.p_partkey
                        AND l.l_returnflag = 'R')
        GROUP BY p_brand
        ORDER BY brand""")


@_q("pivot_status_by_segment", """
SELECT c_mktsegment AS segment,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS f,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS o,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS p
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY segment
""")
def pivot_status_by_segment(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .pivot("o_orderstatus", ["F", "O", "P"])
            .count()
            .na.fill(0)
            .select("segment", F.col("F").alias("f"), F.col("O").alias("o"),
                    F.col("P").alias("p"))
            .orderBy("segment"))


@_q("approx_distinct_users", """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""")
def approx_distinct_users(spark, sf):
    # the HLL sketch itself is engine-specific, but its 5% accuracy
    # contract is oracle-checkable: the oracle computes the exact count
    # and asserts the sketch landed inside the tolerance band
    e = load(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.01).alias("approx"),
                 F.countDistinct("user_id").alias("exact_users"))
            .select("event_type", "exact_users",
                    (F.abs(F.col("approx") - F.col("exact_users"))
                     <= F.ceil(F.col("exact_users") * 0.05))
                    .alias("approx_within_5pct"))
            .orderBy("event_type"))


@_q("values_inline_union", """
SELECT tier, lo, hi FROM (VALUES ('bronze', 0, 1000), ('silver', 1000, 5000),
                                 ('gold', 5000, 10000)) AS t(tier, lo, hi)
ORDER BY tier
""")
def values_inline_union(spark, sf):
    return (spark.createDataFrame(
        [("bronze", 0, 1000), ("silver", 1000, 5000), ("gold", 5000, 10000)],
        "tier string, lo int, hi int").orderBy("tier")
        .select("tier", F.col("lo").cast("int"), F.col("hi").cast("int")))


@_q("levenshtein_name_type", """
SELECT p_partkey, levenshtein(p_brand, p_type) AS edit_dist
FROM part WHERE p_partkey <= 300
ORDER BY p_partkey
""")
def levenshtein_name_type(spark, sf):
    # D9: built-in edit distance (TextTools.levenshtein analog, JVM-side)
    p = load(spark, sf, "part")
    return (p.where(F.col("p_partkey") <= 300)
            .select("p_partkey",
                    F.levenshtein("p_brand", "p_type").cast("long")
                    .alias("edit_dist"))
            .orderBy("p_partkey"))


@_q("extract_event_props", """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT)
         AS sum_k
FROM events
WHERE regexp_extract(props, '"k": (\\d+)', 1) <> ''
GROUP BY event_type ORDER BY event_type
""")
def extract_event_props(spark, sf):
    # C8: KEY: value property extraction (DocumentProcessor.java:333-339
    # analog) via regexp_extract, JVM-side
    e = load(spark, sf, "events")
    k = F.regexp_extract("props", r'"k": (\d+)', 1)
    return (e.where(k != "")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(k.cast("long")).cast("long").alias("sum_k"))
            .orderBy("event_type"))


@_q("grouped_agg_pandas_udaf", """
SELECT o_orderstatus AS status,
       round(exp(avg(ln(o_totalprice))), 2) AS geo_mean_price,
       count(*) AS n
FROM orders WHERE o_totalprice > 0
GROUP BY o_orderstatus ORDER BY status
""")
def grouped_agg_pandas_udaf(spark, sf):
    # §2.J UDAF surface: a grouped-agg pandas UDF (Arrow-batched numpy
    # reduction per group) — geometric mean, oracle-checked against
    # exp(avg(ln x))
    @F.pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy()).mean()))

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # pandas grouped-agg UDFs can't mix with built-in aggregates in
        # one agg() — count comes from the same Arrow batch instead
        return len(v)

    o = load(spark, sf, "orders").where(F.col("o_totalprice") > 0)
    return (o.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.round(geo_mean("o_totalprice"), 2).alias("geo_mean_price"),
                 n_rows("o_totalprice").alias("n"))
            .orderBy("status"))


@_q("udtf_sentence_explode", """
SELECT doc_id, CAST(u.i - 1 AS INT) AS sent_idx, l[u.i] AS sentence
FROM (SELECT doc_id,
             list_filter(list_transform(string_split(text, '.'),
                                        s -> trim(s, ' \t\n\r')),
                         s -> s <> '') AS l
      FROM documents WHERE doc_id < 100) t
CROSS JOIN LATERAL unnest(range(1, len(l) + 1)) AS u(i)
ORDER BY doc_id, sent_idx
""")
def udtf_sentence_explode(spark, sf):
    # §2.J UDTF surface: a Python user-defined TABLE function exploding
    # each document into sentence rows (arrow-optimized, lateral-join style)
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):
            if not text:
                return
            parts = [s.strip() for s in text.split(".") if s.strip()]
            for i, s in enumerate(parts):
                yield doc_id, i, s

    spark.udtf.register("sentence_split", SentenceSplit)
    d = load(spark, sf, "documents").where(F.col("doc_id") < 100)
    d.createOrReplaceTempView("docs_udtf")
    return spark.sql("""
        SELECT s.doc_id, s.sent_idx, s.sentence
        FROM docs_udtf, LATERAL sentence_split(doc_id, text) s
        ORDER BY s.doc_id, s.sent_idx""")


@_q("array_functions", """
SELECT doc_id,
       len(toks) AS n_toks,
       list_sort(list_distinct(toks))[1] AS first_sorted,
       CAST(list_contains(toks, 'join') AS BOOLEAN) AS has_join,
       array_to_string(list_slice(toks, 1, 3), ',') AS first3
FROM (SELECT doc_id, string_split(trim(text), ' ') toks
      FROM documents WHERE doc_id < 50)
ORDER BY doc_id
""")
def array_functions(spark, sf):
    # array outputs are serialized at the query boundary (concat_ws) —
    # the driver's canonicalizer hashes scalar columns only
    d = load(spark, sf, "documents").where(F.col("doc_id") < 50)
    toks = F.split(F.trim("text"), " ")
    return (d.select("doc_id", toks.alias("toks"))
            .select("doc_id",
                    F.size("toks").cast("long").alias("n_toks"),
                    F.element_at(F.array_sort(F.array_distinct("toks")), 1)
                    .alias("first_sorted"),
                    F.array_contains("toks", "join").alias("has_join"),
                    F.concat_ws(",", F.slice("toks", 1, 3)).alias("first3"))
            .orderBy("doc_id"))


@_q("higher_order_array_ops", """
SELECT doc_id,
       CAST(len(list_filter(toks, t -> length(t) > 4)) AS BIGINT) AS n_long,
       array_to_string(list_transform(list_slice(toks, 1, 4), t -> upper(t)), ',') AS up4,
       CAST(list_reduce(list_transform(toks, t -> length(t)),
            (a, b) -> a + b) AS BIGINT) AS total_chars
FROM (SELECT doc_id, string_split(trim(text), ' ') toks
      FROM documents WHERE doc_id < 50 AND length(trim(text)) > 0)
ORDER BY doc_id
""")
def higher_order_array_ops(spark, sf):
    # filter/transform/aggregate lambdas — whole-stage-codegen'd in Spark
    d = (load(spark, sf, "documents")
         .where((F.col("doc_id") < 50) & (F.length(F.trim("text")) > 0)))
    toks = F.split(F.trim("text"), " ")
    return (d.select("doc_id", toks.alias("toks"))
            .select("doc_id",
                    F.size(F.filter("toks", lambda t: F.length(t) > 4))
                    .cast("long").alias("n_long"),
                    F.concat_ws(",", F.transform(F.slice("toks", 1, 4),
                                                 F.upper)).alias("up4"),
                    F.aggregate(F.transform("toks", F.length), F.lit(0),
                                lambda a, b: a + b).cast("long")
                    .alias("total_chars"))
            .orderBy("doc_id"))


@_q("template_items", """
WITH toks AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, l[u.i] AS tok,
         CASE WHEN u.i >= 2 THEN l[u.i - 1] ELSE NULL END AS prev
  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') l
        FROM documents WHERE doc_id < 200) t
  CROSS JOIN LATERAL unnest(range(1, len(l) + 1)) AS u(i)),
lex(tok, cui, cname) AS (VALUES ('scan', 'C_scan', 'Scan'),
                                ('join', 'C_join', 'Join'),
                                ('merge', 'C_merge', 'Merge')),
clo(s_cui, g_cui) AS (VALUES ('C_merge', 'C_join'), ('C_merge', 'C_op'),
                             ('C_join', 'C_op'), ('C_scan', 'C_op')),
m AS (
  SELECT t.doc_id, t.pos, lex.cui, lex.cname,
         coalesce(t.prev = 'no', FALSE) AS absent,
         CAST(NULL AS DOUBLE) AS value, 'Op' AS item,
         'finding' AS item_type
  FROM toks t JOIN lex ON t.tok = lex.tok
  UNION ALL
  SELECT doc_id, pos, 'C_num', 'Number',
         coalesce(prev = 'no', FALSE) AS absent,
         CAST(tok AS DOUBLE) AS value, 'K' AS item,
         'numeric-value' AS item_type
  FROM toks WHERE regexp_matches(tok, '^\\d+$')),
kept AS (
  SELECT * FROM m
  WHERE item <> 'Op' OR NOT EXISTS (
    SELECT 1 FROM m s JOIN clo ON s.cui = clo.s_cui
    WHERE s.doc_id = m.doc_id AND s.item = 'Op' AND clo.g_cui = m.cui))
SELECT doc_id, 'dataops' AS template, item, item_type, cui,
       cname AS concept_name, CAST(min(pos) AS INT) AS start,
       CAST(min(pos) + 1 AS INT) AS "end", absent, value
FROM kept
GROUP BY doc_id, item, item_type, cui, cname, absent, value
ORDER BY doc_id, item, cui, absent, value
""")
def template_items(spark, sf):
    """I4 template extraction, oracle-checked end-to-end: the mention
    source is a SQL-expressible keyword match (so DuckDB can mirror it),
    but the extraction itself runs through the real
    ``extract.templates.process_template`` engine — closure matching,
    most-specific-wins, negation->absent, DOMAIN_VALUE numeric parse.
    The matcher-backed path is covered by the golden fixture tests."""
    from ..extract.templates import (TemplateDef, TemplateItemDef,
                                     process_template)
    d = load(spark, sf, "documents").where(F.col("doc_id") < 200)
    toks = d.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.split(F.lower(F.trim("text")), r"\s+").alias("l"))
    ex = toks.select("doc_id", "l",
                     F.posexplode("l").alias("pos", "tok"))
    prev = F.when(F.col("pos") >= 1, F.element_at("l", F.col("pos")))
    pol = F.when(prev == "no", "Negative_Polarity") \
           .otherwise("Positive_Polarity")
    lex = spark.createDataFrame(
        [("scan", "C_scan", "Scan"), ("join", "C_join", "Join"),
         ("merge", "C_merge", "Merge")],
        "tok string, cui string, cname string")
    kw = (ex.join(F.broadcast(lex), "tok")
          .select("doc_id", "cui", F.col("cname").alias("concept_name"),
                  F.col("tok").alias("matched_term"), "pos", pol.alias("_pol")))
    num = (ex.where(F.col("tok").rlike(r"^\d+$"))
           .select("doc_id", F.lit("C_num").alias("cui"),
                   F.lit("Number").alias("concept_name"),
                   F.col("tok").alias("matched_term"), "pos",
                   pol.alias("_pol")))
    mentions = (kw.unionByName(num)
                .select("doc_id", F.lit(0).alias("sent_id"), "cui",
                        "concept_name", "matched_term",
                        F.col("pos").alias("start"),
                        (F.col("pos") + 1).alias("end"),
                        F.create_map(F.lit("Polarity"), F.col("_pol"))
                        .alias("modifiers")))
    closure = spark.createDataFrame(
        [("C_merge", "C_join"), ("C_merge", "C_op"), ("C_join", "C_op"),
         ("C_scan", "C_op")], "cui string, anc_cui string")
    t = TemplateDef("dataops", items=[
        TemplateItemDef("Op", "C_op"),
        TemplateItemDef("K", "C_num", type="numeric-value",
                        value_domain="value")])
    out = process_template(mentions, t, closure)
    return (out.select(F.col("doc_id").cast("long").alias("doc_id"),
                       "template", "item", "item_type", "cui",
                       "concept_name", "start", "end", "absent", "value")
            .orderBy("doc_id", "item", "cui", "absent", "value"))


@_q("lateral_explode_join", """
SELECT t.doc_id, tok, count(*) AS n
FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents WHERE doc_id < 100) t
WHERE tok IN ('join', 'hash', 'scan', 'merge')
GROUP BY t.doc_id, tok
ORDER BY t.doc_id, tok
""")
def lateral_explode_join(spark, sf):
    d = load(spark, sf, "documents").where(F.col("doc_id") < 100)
    return (d.select("doc_id",
                     F.explode(F.split(F.trim("text"), " ")).alias("tok"))
            .where(F.col("tok").isin("join", "hash", "scan", "merge"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("doc_id", "tok"))


# ---------------------------------------- training-data assembly (r3) ----

@_q("embedding_dup_groups", """
WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS ev
                     FROM embeddings),
u AS (SELECT id, list_transform(ev, x -> x / sqrt(
        list_reduce(list_transform(ev, y -> y * y), (a, b) -> a + b))) AS v
      FROM e),
pl AS (  -- md5-derived hyperplane components, re-derived independently
  SELECT p.p, d.d,
         CAST(list_reduce(list_transform(
           string_split(substr(md5(p.p || ':' || d.d), 1, 15), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, x) -> a * 16 + x) AS DOUBLE)
           / 1152921504606846976.0 - 0.5 AS c
  FROM range(0, 16) p(p), range(1, 65) d(d)),
plv AS (SELECT p, list(c ORDER BY d) AS pv FROM pl GROUP BY p),
proj AS (
  SELECT u.id, plv.p,
         list_reduce(list_transform(range(1, 65),
           i -> u.v[CAST(i AS INT)] * plv.pv[CAST(i AS INT)]),
           (a, x) -> a + x) AS pr
  FROM u, plv),
keys AS (
  SELECT id, CAST(p // 2 AS INT) AS band,
         string_agg(CASE WHEN pr > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY p) AS key
  FROM proj GROUP BY id, p // 2),
cand AS (
  SELECT DISTINCT x.id AS a, y.id AS b
  FROM keys x JOIN keys y
    ON x.band = y.band AND x.key = y.key AND x.id < y.id),
p2 AS (
  SELECT c.a, c.b
  FROM cand c
  JOIN u ua ON ua.id = c.a
  JOIN u ub ON ub.id = c.b
  WHERE round(list_reduce(list_transform(range(1, 65),
          i -> ua.v[CAST(i AS INT)] * ub.v[CAST(i AS INT)]),
          (a, x) -> a + x), 4) >= 0.4),
und(x, y) AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
reach(x, y) AS (SELECT x, y FROM und
                UNION
                SELECT r.x, u2.y FROM reach r JOIN und u2 ON r.y = u2.x
                WHERE r.x <> u2.y)
SELECT x AS vec_id, least(x, min(y)) AS group_id
FROM reach GROUP BY x ORDER BY vec_id
""")
def embedding_dup_groups(spark, sf):
    # SemDeDup-shape semantic dup GROUPS (linear surface), mirroring
    # minhash_dup_groups: LSH candidates -> exact-cosine verify ->
    # connected components. The oracle re-derives the ENTIRE pipeline
    # independently — md5 hyperplanes, sign bands, candidate buckets,
    # exact-cosine verify (same CTE chain as embedding_ann_lsh_pairs) —
    # then takes the recursive closure over those verified pairs. The
    # recall-vs-brute-truth contract lives in embedding_ann_lsh_recall
    # (>=0.9 asserted; one true pair at sf0.01 falls outside the banding,
    # which is WHY this oracle replays the LSH pipeline instead of
    # pretending brute-force closure is the same query).
    from ..textdata.dedup import embedding_dup_groups as impl
    e = load(spark, sf, "embeddings")
    return impl(e, threshold=0.4, dim=64).orderBy("vec_id")


def _kmeans_oracle():
    from ..textdata.clustering import kmeans_assignments_sql
    return kmeans_assignments_sql(dim=64, k=8, iterations=3)


@_q("kmeans_clusters", _kmeans_oracle())
def kmeans_clusters(spark, sf):
    # deterministic Lloyd's k-means (cluster-then-sample curation shape):
    # md5-seeded init, rounded per-iteration means so the chained-CTE
    # oracle replays the identical trajectory; assignment is a k-way
    # broadcast + per-row argmin (no shuffle), means one bounded shuffle
    from ..textdata.clustering import kmeans_assignments
    e = load(spark, sf, "embeddings")
    return kmeans_assignments(e, dim=64, k=8, iterations=3).orderBy("vec_id")


def _ivf_oracle():
    from ..textdata.ann import ivf_topk_sql
    return ivf_topk_sql(dim=64, n_clusters=8, iterations=3, n_probe=2,
                        k=10)


@_q("ann_ivf_topk", _ivf_oracle())
def ann_ivf_topk(spark, sf):
    # IVF ANN (FAISS IVF-Flat shape) over the DETERMINISTIC k-means
    # quantizer: centroid ranking is a window over the k-row centroid
    # table, list pruning a broadcast semi-join — at scale `cluster` is
    # the partition key and the scan touches n_probe/n_clusters of the
    # data. The last un-oracled ANN surface (VERDICT r4 #4): the chained-
    # CTE oracle replays quantizer + ranking + per-list exact cosine.
    from ..textdata.ann import ivf_topk
    e = load(spark, sf, "embeddings")
    return ivf_topk(e, dim=64, n_clusters=8, iterations=3, n_probe=2,
                    k=10).orderBy(F.desc("cosine"), "vec_id")


def _hashing_oracles():
    # threshold 0.8: on a templated corpus the 0.5 band admits most
    # same-template pairs (~9.5M rows at sf0.1 — a quadratic OUTPUT, the
    # one thing a scale path must never produce); 0.8 keeps the output
    # near-dup-sized at every SF
    # dim 8192: the inverted-index join costs sum_b(docs_in_bucket^2) —
    # bucket occupancy, not output size, is the scale knob; 8x the dim
    # cuts the join ~64x while improving hash quality
    from ..textdata.vectorize import hashing_buckets_sql, sparse_cosine_sql
    return (hashing_buckets_sql(dim=8192),
            sparse_cosine_sql(dim=8192, threshold=0.8))


_HB_SQL, _SC_SQL = _hashing_oracles()


@_q("hashing_doc_buckets", _HB_SQL)
def hashing_doc_buckets(spark, sf):
    # feature-hashing vectorizer (hashing trick): stateless, no
    # vocabulary, pure map stage at any corpus size; sparse long-format
    # output (zero buckets omitted)
    from ..textdata.vectorize import hashing_term_buckets
    d = load(spark, sf, "documents")
    return hashing_term_buckets(d, dim=8192).orderBy("doc_id", "bucket")


@_q("hashing_cosine_pairs", _SC_SQL)
def hashing_cosine_pairs(spark, sf):
    # inverted-index sparse similarity join: pairs meet only on shared
    # hash buckets (structural pruning), products partial-aggregate
    # map-side — the scalable sparse-vector cosine, no dense cross join
    from ..textdata.vectorize import (hashing_term_buckets,
                                      sparse_cosine_pairs)
    d = load(spark, sf, "documents")
    hv = hashing_term_buckets(d, dim=8192)
    hv = hv.localCheckpoint(eager=True)  # both join sides reuse it
    return sparse_cosine_pairs(hv, threshold=0.8).orderBy("a", "b")


@_q("curation_pipeline", r"""
WITH d AS MATERIALIZED (
  SELECT doc_id, lang, source, text,
         row_number() OVER (PARTITION BY md5(coalesce(text, ''))
                            ORDER BY doc_id) AS rn
  FROM documents),
k1 AS MATERIALIZED (SELECT doc_id, lang, source, text FROM d WHERE rn = 1),
cf AS (SELECT doc_id FROM (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
    FROM k1 WHERE length(trim(text)) > 0)
  WHERE len(l) BETWEEN 30 AND 1000
    AND round(CAST(list_sum(list_transform(l, x -> length(x))) AS DOUBLE)
              / len(l), 4) BETWEEN 4.0 AND 5.0
    AND len(list_filter(l, t -> t IN ('the','a','an','and','or','of','to',
                                      'in','is','was'))) > 0),
k2 AS MATERIALIZED (SELECT k1.* FROM k1 JOIN cf USING (doc_id)),
s1 AS (SELECT doc_id, lang, source,
    len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS t FROM k2),
s2 AS (SELECT doc_id, lang, source, n_email,
    len(regexp_extract_all(t,
        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
    regexp_replace(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                   '<IP>', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, lang, source, n_email, n_ip,
    len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
    regexp_replace(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b',
                   '<SSN>', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, lang, source, n_email, n_ip, n_ssn,
    len(regexp_extract_all(t,
        '\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\b')) AS n_phone,
    regexp_replace(t, '\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\b',
                   '<PHONE>', 'g') AS clean FROM s3)
SELECT doc_id, lang, source,
       CAST(n_email + n_ip + n_ssn + n_phone AS BIGINT) AS n_pii,
       md5(clean) AS clean_md5
FROM s4
WHERE list_reduce(list_transform(
        string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        (a, b) -> a * 16 + b) % 10000
      < CAST(round((CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.75
                              ELSE 1.0 END) * 10000) AS BIGINT)
ORDER BY doc_id
""")
def curation_pipeline(spark, sf):
    # the composition surface: exact dedup -> C4 quality gate -> PII
    # scrub -> datamix sample, one Spark plan end to end (no driver
    # round-trips between stages); oracle replays every stage in SQL
    from ..textdata.curation import curate
    return curate(load(spark, sf, "documents")).orderBy("doc_id")


def _cluster_sample_oracle():
    from ..textdata.clustering import cluster_sample_sql
    return cluster_sample_sql(dim=64, k=8, iterations=3, per_cluster=3)


@_q("kmeans_cluster_sample", _cluster_sample_oracle())
def kmeans_cluster_sample(spark, sf):
    # cluster-then-sample curation: k-means buckets -> md5-rank keep of 3
    # representatives per cluster (deterministic uniform-within-cluster
    # stand-in); one window over the assignment table, nothing collects
    from ..textdata.clustering import cluster_sample, kmeans_assignments
    e = load(spark, sf, "embeddings")
    a = kmeans_assignments(e, dim=64, k=8, iterations=3)
    return cluster_sample(a, per_cluster=3).orderBy("vec_id")


@_q("datamix_stratified_sample", """
SELECT doc_id, lang, source FROM documents
WHERE list_reduce(list_transform(
        string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
        (a, b) -> a * 16 + b) % 10000
      < CAST((CASE lang WHEN 'en' THEN 0.25 WHEN 'fr' THEN 0.5
                        WHEN 'de' THEN 0.75 ELSE 1.0 END) * 10000 AS BIGINT)
ORDER BY doc_id
""")
def datamix_stratified_sample(spark, sf):
    # deterministic domain-mix downsampling: keep-decision is a pure
    # md5 function of (doc_id, stratum) — reproducible across engines and
    # cluster sizes, unlike df.sample whose output depends on the split
    # layout. Map-side only (no shuffle); the oracle re-derives every
    # keep/drop decision independently.
    from ..textdata.packing import stratified_sample
    d = load(spark, sf, "documents")
    return (stratified_sample(d, {"en": 0.25, "fr": 0.5, "de": 0.75},
                              strata_col="lang")
            .select("doc_id", "lang", "source").orderBy("doc_id"))


@_q("datamix_report", """
WITH k AS (
  SELECT lang,
         list_reduce(list_transform(
           string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, b) -> a * 16 + b) % 10000
         < CAST((CASE lang WHEN 'en' THEN 0.25 WHEN 'fr' THEN 0.5
                           WHEN 'de' THEN 0.75 ELSE 1.0 END) * 10000
                AS BIGINT) AS kept
  FROM documents)
SELECT lang AS stratum, count(*) AS n_total,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN kept THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS kept_ratio
FROM k GROUP BY lang ORDER BY stratum
""")
def datamix_report(spark, sf):
    # the mixture the sample actually achieves, per stratum — dropped
    # coverage visible, not silent; one partial-aggregated pass
    from ..textdata.packing import mix_report
    d = load(spark, sf, "documents")
    return mix_report(d, {"en": 0.25, "fr": 0.5, "de": 0.75},
                      strata_col="lang")


@_q("pack_sequences_budget", """
WITH RECURSIVE base AS (
  SELECT doc_id,
         list_reduce(list_transform(
           string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
           (a, b) -> a * 16 + b) % 16 AS bucket,
         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS tok
  FROM documents),
d AS (SELECT doc_id, bucket, tok,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      FROM base),
walk(bucket, rn, doc_id, tok, acc, seq) AS (
  SELECT bucket, rn, doc_id, tok, tok, 0 FROM d WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.tok,
         CASE WHEN w.acc > 0 AND w.acc + d.tok > 512
              THEN d.tok ELSE w.acc + d.tok END,
         CASE WHEN w.acc > 0 AND w.acc + d.tok > 512
              THEN w.seq + 1 ELSE w.seq END
  FROM walk w JOIN d ON d.bucket = w.bucket AND d.rn = w.rn + 1)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(seq AS BIGINT) AS seq, CAST(tok AS BIGINT) AS ws_tokens
FROM walk ORDER BY doc_id
""")
def pack_sequences_budget(spark, sf):
    # greedy in-order sequence packing under a 512-token budget, bucketed
    # by md5(doc_id) % 16 so the sequential walk parallelizes across
    # buckets (one bounded-key shuffle + one Arrow pass per bucket). The
    # oracle replays the identical greedy walk as a recursive CTE over
    # (bucket, rn) — every seq assignment re-derived independently.
    from ..textdata.packing import pack_sequences
    d = load(spark, sf, "documents")
    return pack_sequences(d, budget=512, n_buckets=16).orderBy("doc_id")


@_q("bpe_pair_counts", """
WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
             AS word
           FROM documents),
wc AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word),
syms AS (SELECT n, list_append(regexp_extract_all(word, '.'), '</w>') AS s
         FROM wc),
p AS (SELECT s[i] AS a, s[i + 1] AS b, n
      FROM (SELECT n, s, unnest(range(1, len(s))) AS i FROM syms)),
agg AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM p GROUP BY a, b)
SELECT a, b, n FROM agg ORDER BY n DESC, a, b LIMIT 50
""")
def bpe_pair_counts(spark, sf):
    # the BPE tokenizer-training hot loop's distributed stage: adjacent
    # symbol-pair frequencies over the word table, weighted by word
    # count. Word counting collapses the corpus map-side; the pair
    # explosion runs over the (small) vocabulary table. Top-50 with a
    # total tiebreak (n desc, a, b) so LIMIT is deterministic.
    from ..textdata.bpe import pair_counts, word_counts
    d = load(spark, sf, "documents")
    return (pair_counts(word_counts(d))
            .orderBy(F.desc("n"), "a", "b").limit(50))


@_q("minhash_incremental_pairs", f"""
WITH {_JACCARD_PAIRS_CTE},
delta AS (
  SELECT doc_id FROM documents
  WHERE list_reduce(list_transform(
          string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          (a, b) -> a * 16 + b) % 5 = 0)
SELECT p.a, p.b, round(i*1.0/(za.n+zb.n-i), 4) AS jaccard
FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
WHERE i*1.0/(za.n+zb.n-i) >= 0.8
  AND (p.a IN (SELECT doc_id FROM delta)
       OR p.b IN (SELECT doc_id FROM delta))
ORDER BY a, b
""")
def minhash_incremental_pairs(spark, sf):
    # incremental (daily-crawl-delta) dedup: a ~20% md5-selected slice of
    # the corpus plays the "new batch", probing the remaining corpus's
    # banded LSH state with an equi-join on (band, h) — no corpus-vs-
    # corpus re-pairing. The oracle recomputes the exact n-gram Jaccard
    # pair set restricted to pairs touching the delta.
    from ..textdata.dedup import minhash_incremental_pairs as impl
    from ..textdata.packing import md5_bucket
    d = _spread(spark, load(spark, sf, "documents"))
    is_new = md5_bucket(F.col("doc_id"), 5) == 0
    corpus = d.where(~is_new)
    new = d.where(is_new)
    return (impl(corpus, new, threshold=0.8)
            .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a", "b"))


@_q("tfidf_top_terms", """
WITH t AS (SELECT doc_id,
                  unnest(list_filter(string_split_regex(lower(trim(text)),
                                                        '\\s+'),
                                     x -> x <> '')) AS term
           FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
n AS (SELECT count(*) AS _n FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * ln(_n * 1.0 / df), 4) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rn
  FROM scored)
SELECT doc_id, term, tf, tfidf FROM ranked WHERE rn <= 5
ORDER BY doc_id, term
""")
def tfidf_top_terms(spark, sf):
    # keyword extraction: top-5 TF-IDF terms per doc. The rank key is the
    # ROUNDED score (then term) so cross-engine last-ulp ln() differences
    # cannot flip the top-k; corpus scalars ride the plan via single-row
    # cross joins (no driver action).
    from ..textdata.relevance import tfidf_top_terms as impl
    d = load(spark, sf, "documents")
    return impl(d, top_k=5).orderBy("doc_id", "term")


@_q("bigram_lm_scores", """
WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              t -> t <> '') AS l
           FROM documents),
db AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
       FROM (SELECT doc_id, l,
                    unnest(CASE WHEN len(l) >= 2 THEN range(1, len(l))
                                ELSE []::BIGINT[] END) AS i
             FROM d)),
bc AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY w1, w2),
uc AS (SELECT t AS w1, count(*) AS c1
       FROM (SELECT unnest(l) AS t FROM d) GROUP BY t),
v AS (SELECT count(DISTINCT t) AS _v
      FROM (SELECT unnest(l) AS t FROM d))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((c12 + 1.0) / (c1 + 1.0 * _v))), 4) AS avg_logprob
FROM db JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
GROUP BY doc_id ORDER BY doc_id
""")
def bigram_lm_scores(spark, sf):
    # CCNet-style LM-perplexity quality signal: average bigram logprob
    # under an add-1-smoothed bigram model trained on the corpus itself.
    # One plan: corpus statistics (bigram/unigram counts, vocab size)
    # partial-aggregate map-side, then each doc's bigrams join back.
    from ..textdata.relevance import bigram_lm_scores as impl
    d = load(spark, sf, "documents")
    return impl(d, k=1.0).orderBy("doc_id")


@_q("decontamination_pairs", f"""
WITH {_JACCARD_PAIRS_CTE},
delta AS (
  SELECT doc_id FROM documents
  WHERE list_reduce(list_transform(
          string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          (a, b) -> a * 16 + b) % 5 = 0)
SELECT CASE WHEN p.a IN (SELECT doc_id FROM delta) THEN p.b ELSE p.a END
         AS a_id,
       CASE WHEN p.a IN (SELECT doc_id FROM delta) THEN p.a ELSE p.b END
         AS b_id,
       round(i*1.0/(za.n+zb.n-i), 4) AS jaccard
FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
WHERE i*1.0/(za.n+zb.n-i) >= 0.8
  AND ((p.a IN (SELECT doc_id FROM delta))
       <> (p.b IN (SELECT doc_id FROM delta)))
ORDER BY a_id, b_id
""")
def decontamination_pairs(spark, sf):
    # train-test decontamination: the md5-selected ~20% slice plays the
    # benchmark set, the rest the training corpus; output is every
    # verified CROSS-corpus near-dup pair (never within either side).
    # Oracle: exact Jaccard pairs with exactly one side in the slice,
    # reprojected so a_id is always the training doc.
    from ..textdata.dedup import cross_corpus_pairs
    from ..textdata.packing import md5_bucket
    d = _spread(spark, load(spark, sf, "documents"))
    is_test = md5_bucket(F.col("doc_id"), 5) == 0
    return (cross_corpus_pairs(d.where(~is_test), d.where(is_test),
                               threshold=0.8)
            .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
            .orderBy("a_id", "b_id"))


@_q("pii_scrub_stats", """
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || ' Contact ' ||
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) ||
         '@example.com or 555-867-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ', host 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         '.7, ssn 123-45-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS t
  FROM documents),
scrub AS (
  SELECT doc_id,
    len(regexp_extract_all(t,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS t1
  FROM aug),
scrub2 AS (
  SELECT doc_id, n_email,
    len(regexp_extract_all(t1,
        '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ip,
    regexp_replace(t1,
        '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
        '<IP>', 'g') AS t2
  FROM scrub),
scrub3 AS (
  SELECT doc_id, n_email, n_ip,
    len(regexp_extract_all(t2, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS n_ssn,
    regexp_replace(t2, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b',
                   '<SSN>', 'g') AS t3
  FROM scrub2),
scrub4 AS (
  SELECT doc_id, n_email, n_ip, n_ssn,
    len(regexp_extract_all(t3,
        '\\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\\b')) AS n_phone,
    regexp_replace(t3, '\\+?[0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4}\\b',
                   '<PHONE>', 'g') AS t4
  FROM scrub3)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_ip AS BIGINT) AS n_ip, CAST(n_ssn AS BIGINT) AS n_ssn,
       CAST(n_phone AS BIGINT) AS n_phone,
       md5(t4) AS clean_md5
FROM scrub4 ORDER BY doc_id
""")
def pii_scrub_stats(spark, sf):
    # PII scrubbing evidence: the synthetic corpus carries no real PII,
    # so each document is deterministically AUGMENTED (from its own
    # doc_id) with an email, a phone, an IP, and an SSN-shaped token;
    # both engines build the identical augmented text, run the identical
    # Java-regex/RE2-common patterns, and compare counts + the md5 of
    # the scrubbed text — the full replace semantics, not just counts.
    from ..textdata.analysis import pii_scrub
    d = load(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" Contact "),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
            F.lit("@example.com or 555-867-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(", host 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7, ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(".")).alias("text"))
    return (pii_scrub(aug)
            .select("doc_id", "n_email", "n_ip", "n_ssn", "n_phone",
                    F.md5("clean").alias("clean_md5"))
            .orderBy("doc_id"))


@_q("ngram_overlap_pairs", """
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\W+') toks
           FROM documents),
g AS (SELECT doc_id, unnest(list_transform(
          range(1, greatest(len(toks) - 4, 0) + 1),
          i -> substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          || ' ' || toks[i+3] || ' ' || toks[i+4]), 1, 16)))
          AS gh
      FROM d),
g2 AS (SELECT DISTINCT doc_id, gh FROM g),
delta AS (
  SELECT doc_id FROM documents
  WHERE list_reduce(list_transform(
          string_split(substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          (a, b) -> a * 16 + b) % 5 = 0)
SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM g2 t JOIN g2 e ON t.gh = e.gh
WHERE t.doc_id NOT IN (SELECT doc_id FROM delta)
  AND e.doc_id IN (SELECT doc_id FROM delta)
GROUP BY 1, 2 ORDER BY train_id, eval_id
""")
def ngram_overlap_pairs(spark, sf):
    # GPT-3-style EXACT n-gram decontamination evidence (verbatim eval
    # n-grams leaking into training docs — the complement of the MinHash
    # near-dup path): md5-keyed 5-grams, one shuffle on the gram key,
    # eval side broadcast by AQE. Oracle recomputes grams + the join.
    from ..textdata.analysis import ngram_overlap_pairs as impl
    from ..textdata.packing import md5_bucket
    d = _spread(spark, load(spark, sf, "documents"))
    is_eval = md5_bucket(F.col("doc_id"), 5) == 0
    return (impl(d.where(~is_eval), d.where(is_eval), k=5)
            .orderBy("train_id", "eval_id"))


@_q("dedup_keep_list", f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTE},
p2 AS (SELECT p.a, p.b
       FROM p JOIN z za ON p.a = za.doc_id JOIN z zb ON p.b = zb.doc_id
       WHERE i*1.0/(za.n+zb.n-i) >= 0.8),
und(x, y) AS (SELECT a, b FROM p2 UNION SELECT b, a FROM p2),
reach(x, y) AS (SELECT x, y FROM und
                UNION
                SELECT r.x, u.y FROM reach r JOIN und u ON r.y = u.x
                WHERE r.x <> u.y),
grp AS (SELECT x AS doc_id, least(x, min(y)) AS group_id
        FROM reach GROUP BY x),
alld AS (SELECT d0.doc_id,
                coalesce(grp.group_id, d0.doc_id) AS group_id,
                length(d0.text) AS len
         FROM documents d0 LEFT JOIN grp ON d0.doc_id = grp.doc_id)
SELECT doc_id, group_id,
       (row_number() OVER (PARTITION BY group_id
                           ORDER BY len DESC, doc_id)) = 1 AS keep
FROM alld ORDER BY doc_id
""")
def dedup_keep_list(spark, sf):
    # the dedup DECISION surface a cleaning job consumes: one kept
    # representative per near-dup group (longest text, tie to smallest
    # doc_id), ungrouped docs keep trivially; oracle re-derives groups as
    # the recursive closure over exact-Jaccard pairs, then applies the
    # same deterministic window
    from ..textdata.dedup import dedup_representatives
    d = _spread(spark, load(spark, sf, "documents"))
    return dedup_representatives(d, threshold=0.8).orderBy("doc_id")


@_q("line_dedup_stats", """
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) ||
         'SHARED BOILERPLATE ' || CAST(doc_id % 7 AS VARCHAR) ||
         chr(10) || chr(10) ||
         'unique tail ' || md5(CAST(doc_id AS VARCHAR)) AS t
  FROM documents),
l AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ls) + 1),
                i -> struct_pack(pos := i, line := ls[CAST(i AS INT)])),
                recursive := true)
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug)),
m AS (
  SELECT doc_id, pos, line,
         (length(trim(line)) > 0)
         AND (min(doc_id) OVER (PARTITION BY md5(trim(line)))
              <> max(doc_id) OVER (PARTITION BY md5(trim(line)))) AS is_dup
  FROM l)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE NOT is_dup), '')) AS clean_md5
FROM m GROUP BY doc_id ORDER BY doc_id
""")
def line_dedup_stats(spark, sf):
    # CCNet/RefinedWeb-style line-level boilerplate removal: the corpus
    # has no newlines, so each document is deterministically augmented
    # with one SHARED line (keyed doc_id % 7 — cross-document duplicate
    # by construction), a blank line (must never count as boilerplate),
    # and one unique tail; both engines build the identical text, drop
    # cross-document duplicate lines, and compare counts + the md5 of
    # the reassembled text.
    from ..textdata.analysis import line_dedup
    d = load(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit("\n"),
            F.lit("SHARED BOILERPLATE "),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\n\n"), F.lit("unique tail "),
            F.md5(F.col("doc_id").cast("string"))).alias("text"))
    return (line_dedup(aug)
            .select("doc_id", "n_lines", "n_dropped",
                    F.md5("clean").alias("clean_md5"))
            .orderBy("doc_id"))


@_q("self_line_dedup_stats", """
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') || chr(10) ||
         'REPEATED SECTION ' || CAST(doc_id AS VARCHAR) || chr(10) ||
         'middle ' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) ||
         chr(10) ||
         'REPEATED SECTION ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents),
l AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ls) + 1),
                i -> struct_pack(pos := i, line := ls[CAST(i AS INT)])),
                recursive := true)
  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM aug)),
m AS (
  SELECT doc_id, pos, line,
         (length(trim(line)) > 0)
         AND (row_number() OVER (PARTITION BY doc_id, md5(trim(line))
                                 ORDER BY pos) > 1) AS is_dup
  FROM l)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(CASE WHEN is_dup THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE NOT is_dup), '')) AS clean_md5
FROM m GROUP BY doc_id ORDER BY doc_id
""")
def self_line_dedup_stats(spark, sf):
    # within-document repeated-line removal: each doc is augmented with
    # a line that repeats INSIDE it (keyed by its own doc_id, so never
    # cross-doc); the first occurrence must survive, the second drop,
    # and both engines compare counts + the md5 of the reassembled text
    from ..textdata.analysis import self_line_dedup
    d = load(spark, sf, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")), F.lit("\n"),
            F.lit("REPEATED SECTION "), F.col("doc_id").cast("string"),
            F.lit("\n"), F.lit("middle "),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            F.lit("\n"),
            F.lit("REPEATED SECTION "),
            F.col("doc_id").cast("string")).alias("text"))
    return (self_line_dedup(aug)
            .select("doc_id", "n_lines", "n_dropped",
                    F.md5("clean").alias("clean_md5"))
            .orderBy("doc_id"))
