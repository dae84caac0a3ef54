"""Joins & aggregations at star-schema shape (SURVEY.md §2.4/§2.5, Phase 2).

The reference's dataflow joins (J1 stub→content enrichment, J2 seen-set
anti-join, J3 primary/fallback merge — SURVEY.md §2.4) become real
relational joins over the TPC-H-ish tables, which also carry the
classic multi-way join + aggregate workload the engine must sustain at
100 TB.

Float determinism: every SUM over doubles goes through
``CAST(expr AS DECIMAL(28,6))`` — decimal addition is exact and
associative, so Spark's partial-agg + shuffle order and DuckDB's
single-threaded order produce bitwise-identical results; the final
value is cast back to DOUBLE (deterministic round-to-nearest on both
engines). Averages divide the exact sum by the exact count in double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wiki_data_pipeline_spark.io import read_table
from wiki_data_pipeline_spark.operators.pin import pin
from wiki_data_pipeline_spark.plans.registry import query
from wiki_data_pipeline_spark.session import scoped_conf


def dsum(expr: Column, alias: str) -> Column:
    """Exact, order-independent sum of a double expression → DOUBLE."""
    return F.sum(expr.cast("decimal(28,6)")).cast("double").alias(alias)


def davg(expr: Column, alias: str) -> Column:
    """Exact-sum average → DOUBLE (sum in decimal, divide in double)."""
    return (
        F.sum(expr.cast("decimal(28,6)")).cast("double") / F.count("*")
    ).alias(alias)


# SQL fragment mirrors of dsum/davg for the DuckDB oracles.
def _dsum_sql(expr: str, alias: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) AS {alias}"


def _davg_sql(expr: str, alias: str) -> str:
    return f"CAST(sum(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS {alias}"


# ---------------------------------------------------------------------------
# Q1-style pricing summary — the bench workhorse aggregation.
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {_dsum_sql('l_quantity', 'sum_qty')},
      {_dsum_sql('l_extendedprice', 'sum_base_price')},
      {_dsum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
      {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
      {_davg_sql('l_quantity', 'avg_qty')},
      {_davg_sql('l_extendedprice', 'avg_price')},
      {_davg_sql('l_discount', 'avg_disc')},
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (reference analog: A1/A2 corpus
    sums at lineitem scale). Scan filter pushes to parquet; hash
    aggregate on a 6-value key with map-side partials — the canonical
    'survives 100×' aggregation shape."""
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — enrichment join (stub → content analog).
# ---------------------------------------------------------------------------


@query(
    "j1_enrichment_join",
    oracle="""
    SELECT
      o.o_orderkey,
      o.o_totalprice,
      strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      coalesce(c.c_name, 'UNKNOWN')       AS customer_name,
      coalesce(c.c_mktsegment, 'NONE')    AS mktsegment
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 7 = 0
    """,
)
def j1_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key enrichment as a left join (reference J1: the per-row
    ``get_article_content`` lookup loop, src/main.py:101-110 →
    stubs⋈content). The dimension side is explicitly broadcast —
    at 100 TB the fact side streams through map tasks with zero
    shuffle; null-fill mirrors the reference's fetch-miss path.

    Output contract is narrowed by a deterministic key filter
    (o_orderkey % 7) so cross-engine comparators hash a bounded row
    set; the filter is on the probe side's primary key, so every join
    semantics is still exercised row-for-row."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    )
    customer = read_table(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.coalesce("c_name", F.lit("UNKNOWN")).alias("customer_name"),
        F.coalesce("c_mktsegment", F.lit("NONE")).alias("mktsegment"),
    )


# ---------------------------------------------------------------------------
# J3 — primary/fallback source merge.
# ---------------------------------------------------------------------------


@query(
    "j3_coalesce_merge",
    oracle="""
    WITH primary_src AS (
      SELECT doc_id, text AS content, 'mwclient' AS src
      FROM documents WHERE doc_id % 3 <> 0
    ),
    fallback_src AS (
      SELECT doc_id, 'FB:' || substr(text, 1, 20) AS content, 'fallback_api' AS src
      FROM documents
    )
    SELECT
      f.doc_id,
      coalesce(p.content, f.content) AS content,
      coalesce(p.src, f.src)         AS source
    FROM fallback_src f
    LEFT JOIN primary_src p ON f.doc_id = p.doc_id
    """,
)
def j3_coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary/fallback failover merge (reference J3/S7:
    src/production_mediawiki_client.py:157-160 — on mwclient error
    re-fetch via raw API, rows tagged by source). Expressed as
    coalesce-priority left join; the reference's per-row try/except
    becomes a set-level operation."""
    docs = read_table(spark, sf_dir, "documents")
    primary = docs.filter(F.col("doc_id") % 3 != 0).select(
        "doc_id",
        F.col("text").alias("p_content"),
        F.lit("mwclient").alias("p_src"),
    )
    fallback = docs.select(
        "doc_id",
        F.concat(F.lit("FB:"), F.substring("text", 1, 20)).alias("f_content"),
        F.lit("fallback_api").alias("f_src"),
    )
    return fallback.join(primary, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("p_content", "f_content").alias("content"),
        F.coalesce("p_src", "f_src").alias("source"),
    )


# ---------------------------------------------------------------------------
# Multi-way star join with dimension broadcast.
# ---------------------------------------------------------------------------


@query(
    "q5_star_join_revenue",
    oracle=f"""
    SELECT
      n.n_name AS nation,
      r.r_name AS region,
      {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
      count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q5_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table star join: local-supplier revenue by
    nation/region. lineitem⋈orders shuffles on orderkey (the only big
    shuffle); customer/supplier/nation/region are broadcast — at scale
    the dims stay under the broadcast threshold and AQE re-plans if
    not. Proves the equi/broadcast join family the reference never had
    (SURVEY.md §2.4 'not present')."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    revenue_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            dsum(revenue_expr, "revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q3-style: filtered join chain + grouped revenue + top-k.
# ---------------------------------------------------------------------------


@query(
    "q3_top_orders",
    oracle=f"""
    SELECT
      l.l_orderkey,
      {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
      strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d'), o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: segment-filtered join chain, grouped revenue,
    ordered top-k. The segment filter prunes customer before the
    broadcast; top-k compiles to TakeOrderedAndProject (no global
    sort). Ties broken by orderkey for determinism."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    revenue_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum(revenue_expr, "revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A7 — per-batch grouped summary.
# ---------------------------------------------------------------------------


@query(
    "a7_per_batch_summary",
    oracle="""
    SELECT
      doc_id // 100                                 AS batch_id,
      count(*)                                      AS n_docs,
      CAST(sum(n_chars) AS BIGINT)                  AS total_chars,
      CAST(sum(n_chars) AS DOUBLE) / count(*)       AS avg_chars
    FROM documents
    GROUP BY doc_id // 100
    """,
)
def a7_per_batch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch summary (reference A7, src/production_main.py:204-207:
    A2 recomputed per uploaded batch). Batch id derives from the dense
    doc_id — grouped aggregate, no window needed."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.floor(F.col("doc_id") / 100).cast("bigint").alias("batch_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup aggregation (engine extension per SURVEY.md §2.5 — the
# reference has no grouping sets; exposed natively).
# ---------------------------------------------------------------------------


@query(
    "agg_rollup_lang_source",
    oracle="""
    SELECT lang, source,
      GROUPING(lang, source) AS gid,
      count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def agg_rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup over (lang, source) with grouping_id —
    subtotals + grand total in one pass (engine extension, SURVEY.md
    §2.5: 'engine exposes cube/rollup anyway'; the reference computes
    only flat A2 summaries). Spark expands rollup into grouping sets
    in a single shuffle — no per-level rescans."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select("lang", "source", "gid", "n_docs", "total_chars")


# ---------------------------------------------------------------------------
# Window ranking / offset functions over events.
# ---------------------------------------------------------------------------


@query(
    "window_rank_per_user",
    oracle="""
    SELECT event_id, user_id,
      row_number()  OVER w AS seq_in_user,
      rank()        OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
      lag(event_id)  OVER w AS prev_event_id,
      lead(event_id) OVER w AS next_event_id
    FROM events
    WHERE user_id % 7 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def window_rank_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking + offset functions per user (engine extension,
    SURVEY.md §2.5: Window ranking exposed beyond the reference's L3
    row-indexing use). Partitioned windows scale — the shuffle is on
    user_id and each partition sorts locally; contrast with L4's
    global window, which is the one deliberately non-scalable form.

    A deterministic partition-key filter (user_id % 7) bounds the
    output for cross-engine hashing; filters on the PARTITION BY key
    commute with the window, so per-user results are unchanged."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 7 == 0
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return events.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("seq_in_user"),
        F.rank().over(wv).alias("value_rank"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


# ---------------------------------------------------------------------------
# Cube aggregation — all marginals of (lang, source) in one pass.
# ---------------------------------------------------------------------------


@query(
    "agg_cube_lang_source",
    oracle="""
    SELECT lang, source,
      GROUPING(lang, source) AS gid,
      count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
)
def agg_cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): per-cell counts plus both one-way
    marginals and the grand total in a single shuffle (engine
    extension, SURVEY.md §2.5 — completes the grouping-sets family next
    to agg_rollup_lang_source). grouping_id disambiguates NULL group
    keys from NULL data. Spark expands the cube via Expand + one hash
    aggregate — 4× the rows into one exchange, not 4 scans."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select("lang", "source", "gid", "n_docs", "total_chars")
    )


# ---------------------------------------------------------------------------
# Q6-style: pure filter + scan aggregate (pushdown showcase).
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT
      {_dsum_sql('l_extendedprice * l_discount', 'revenue')},
      count(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue: conjunctive range filters +
    ungrouped aggregate. All four predicates push to the parquet scan
    (PushedFilters + row-group min/max skipping) and only 4 of 11
    columns are read — the canonical scan-efficiency probe; at 100 TB
    with shipdate partitioning this is a partition-pruned scan."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q10-style: returned-item revenue ranking per customer.
# ---------------------------------------------------------------------------


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT
      c.c_custkey,
      c.c_name,
      n.n_name AS nation,
      {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
      count(*) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (engine extension per SURVEY.md §2.4 — the
    equi/broadcast join family at star shape): lost-revenue ranking
    over returned items.
    The returnflag filter pushes into the lineitem scan BEFORE the
    orderkey shuffle (≈¼ of rows survive); customer and nation
    broadcast; top-20 compiles to TakeOrderedAndProject."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            dsum(revenue_expr, "revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Skew-mitigation: salted join + salted distinct-count (SCALE.md).
# ---------------------------------------------------------------------------


@query(
    "skew_salted_join",
    oracle="""
    SELECT e.event_id, e.user_id, u.n_events_of_user, u.user_total_value
    FROM events e
    JOIN (
      SELECT user_id, count(*) AS n_events_of_user,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS user_total_value
      FROM events GROUP BY user_id
    ) u ON e.user_id = u.user_id
    WHERE e.event_id < 2000
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (engine extension — SURVEY.md §2.4 J-family
    at skewed-key shape; operators/skew.py): the fact side is salted by
    its primary key, the per-user profile dim is replicated per salt,
    and the join key becomes (user_id, salt) — a hot user spreads over
    n_salts shuffle partitions instead of melting one reducer. Output
    is row-identical to the unsalted join (the oracle IS the unsalted
    join); this is the pre-planned complement to AQE's runtime
    skew-join splitting."""
    from wiki_data_pipeline_spark.operators.skew import salted_join

    events = read_table(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(
        F.count("*").alias("n_events_of_user"),
        dsum(F.col("value"), "user_total_value"),
    )
    fact = events.filter(F.col("event_id") < 2000).select("event_id", "user_id")
    return salted_join(fact, profile, on="user_id", fact_row_key="event_id").select(
        "event_id", "user_id", "n_events_of_user", "user_total_value"
    )


@query(
    "skew_salted_join_planned",
    oracle="""
    SELECT e.event_id, e.user_id, u.n_events_of_user, u.user_total_value
    FROM events e
    JOIN (
      SELECT user_id, count(*) AS n_events_of_user,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS user_total_value
      FROM events GROUP BY user_id
    ) u ON e.user_id = u.user_id
    WHERE e.event_id < 2000
    """,
)
def skew_salted_join_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAN-DRIVEN salted join (engine extension — SURVEY.md §2.4
    J-family at skewed-key shape; operators/skew.py r9 — the execution
    end of the Gini-trigger -> plan_salts -> salted_join_planned
    decision rule): per-key salt factors ceil(n/target) from the
    broadcast salting plan, so hot users split into exactly their
    planned slice count and cold users pay ZERO dim replication —
    vs ``skew_salted_join``'s uniform n_salts, which replicates the
    whole dim n times. Oracle is the unsalted join: salting must be
    row-invisible. Balance + wall-clock evidence:
    tests/test_skew_validation.py, tools/skew_probe.py, SCALE.md."""
    from wiki_data_pipeline_spark.operators.skew import (
        plan_salts,
        salted_join_planned,
    )

    events = read_table(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(
        F.count("*").alias("n_events_of_user"),
        dsum(F.col("value"), "user_total_value"),
    )
    fact = events.filter(F.col("event_id") < 2000).select("event_id", "user_id")
    plan = plan_salts(events, "user_id", target_rows=60)
    return salted_join_planned(
        fact, profile, on="user_id", fact_row_key="event_id", plan=plan
    ).select("event_id", "user_id", "n_events_of_user", "user_total_value")


@query(
    "skew_salted_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_distinct_user_id
    FROM events GROUP BY event_type
    """,
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted count-distinct (operators/skew.py; engine extension per
    SURVEY.md §2.5 A-family): count(DISTINCT user) per event_type
    where one hot type would otherwise push its whole user set through
    a single reducer. Values are partitioned by salt-of-value, deduped
    per (group, salt), then per-salt counts sum exactly — two bounded
    shuffles, no hot reducer."""
    from wiki_data_pipeline_spark.operators.skew import salted_distinct_count

    events = read_table(spark, sf_dir, "events")
    return salted_distinct_count(events, "event_type", "user_id")


# ---------------------------------------------------------------------------
# As-of join + bucketed range join (engine extensions — SURVEY.md §2.4
# lists theta/range/as-of as "not present" in the reference; these are
# the Spark-lacks-it custom operators built as compositions).
# ---------------------------------------------------------------------------


@query(
    "join_asof",
    oracle="""
    WITH r AS (SELECT user_id, ts, value AS click_value FROM events
               WHERE event_type = 'click'),
         l AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type <> 'click')
    SELECT l.event_id, l.user_id,
      strftime(l.ts, '%Y-%m-%dT%H:%M:%S') AS event_ts,
      r.click_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine extension per SURVEY.md §2.4 "not present";
    per-event latest preceding click's value — the quotes/trades
    shape): Spark has no ASOF JOIN operator, so
    ``operators/joins.py asof_join`` composes it as union-both-sides +
    ``last(value, ignorenulls)`` over a per-key ordered window — ONE
    shuffle on user_id, no per-row range probe, no cross product.
    Equal-ts rows match (`l.ts >= r.ts`, DuckDB ASOF semantics); the
    boundary/tie behavior is cross-engine fuzzed in
    tests/test_join_fuzz.py.

    Scale: identical to any partitioned window — shuffle on the key,
    local sort; skewed keys fall under the same salting story as
    operators/skew.py. This is the standard scalable as-of formulation
    (a range-join would explode; a point self-join can't express
    'latest preceding')."""
    from wiki_data_pipeline_spark.operators.joins import asof_join

    events = read_table(spark, sf_dir, "events")
    right = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    left = events.filter(F.col("event_type") != "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        left, right, on="user_id", ts="ts", value_col="click_value",
        direction="backward",
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("event_ts"),
        "click_value",
    )


@query(
    "join_range_bucketed",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_id, user_id, ts AS v_ts
               FROM events WHERE event_type = 'view')
    SELECT v.view_id, p.purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
      AND v.v_ts >  p.p_ts - INTERVAL 1 HOUR
      AND v.v_ts <= p.p_ts
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join (engine extension per
    SURVEY.md §2.4 "not present") — views attributed to
    purchases within the preceding hour. A naive theta-join is a
    per-key cross product; ``operators/joins.py bucketed_range_join``
    bucketizes time to 1-hour grain: the interval side explodes to the
    hour-buckets it covers (≤2 here), the point side maps to its
    single bucket, and the join becomes an EQUI-join on (user_id,
    bucket) + exact range filter (half-open ``p_ts - 1h < v_ts <=
    p_ts``). Each point lands in exactly one bucket so no dedup pass
    is needed; bucket grain trades replication factor vs candidate
    count — pick ~the interval width (SCALE.md). Comparisons run on
    epoch-MICROSECOND longs (Spark timestamps are µs precision, so
    ``unix_micros`` is lossless and the exact filter ≡ the timestamp
    predicate); hour buckets are floor(µs / 3.6e9) ≡
    date_trunc('hour') under the engine's pinned UTC session timezone.
    Endpoint/bucket-edge semantics cross-engine fuzzed in
    tests/test_join_fuzz.py."""
    from wiki_data_pipeline_spark.operators.joins import bucketed_range_join

    _HOUR_US = 3_600_000_000
    events = read_table(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        (F.unix_micros("ts") - _HOUR_US).alias("w_start"),
        F.unix_micros("ts").alias("w_end"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.unix_micros("ts").alias("v_us"),
    )
    return bucketed_range_join(
        v,
        p,
        on="user_id",
        ts="v_us",
        start="w_start",
        end="w_end",
        bucket_width=_HOUR_US,
        start_open=True,
    ).select("view_id", "purchase_id")


# ---------------------------------------------------------------------------
# Pivot: event-type columns per day (engine extension per SURVEY.md
# §2.5 — reshaping aggregation the reference has no analog for).
# ---------------------------------------------------------------------------

_PIVOT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "agg_pivot_event_types",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      {', '.join(
        f"CAST(sum(CASE WHEN event_type='{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in _PIVOT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine extension per SURVEY.md §2.5): per-day counts
    reshaped to one column per event type. The pivot value list is
    EXPLICIT — with it, Spark plans a single hash aggregate (no extra
    distinct-values job, deterministic column order, and at 100 TB no
    surprise driver-side collect of the pivot domain)."""
    events = read_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    out = (
        events.groupBy(day)
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _PIVOT_TYPES]
    )


# ---------------------------------------------------------------------------
# Q4-style: order-priority count via EXISTS semi-join.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Q7-style: bilateral trade volume between a nation pair, by year.
# ---------------------------------------------------------------------------


@query(
    "q7_nation_trade_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
      {_dsum_sql('volume', 'revenue')},
      count(*) AS n_lineitems
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        CAST(year(l.l_shipdate) AS INT) AS l_year,
        l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade: shipping volume between two
    nations, both directions, by ship year. The nation-pair
    disjunction constrains BOTH nation dims to the 2-name set before
    the join (Catalyst extracts n1 ∈ {1,2} ∧ n2 ∈ {1,2} from the OR),
    so the supplier/customer broadcasts carry only the two nations'
    keys; the only big shuffle is lineitem⋈orders on orderkey."""
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q14-style: conditional-aggregate ratio (promo revenue share).
# ---------------------------------------------------------------------------


@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT
      100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
        THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6))
        ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        AS DECIMAL(28,6))) AS DOUBLE) AS promo_share_pct,
      count(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped conditional-aggregate ratio (engine extension
    per SURVEY.md §2.5): promo parts' share
    of one month's revenue. Numerator and denominator are two
    aggregates over ONE scan (a CASE inside the sum, not a self-join
    or two passes); part is broadcast; the month filter prunes at the
    lineitem scan. Both sums decimal-exact before the final double
    division."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    promo_vol = F.when(F.col("p_type") == "PROMO", vol).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .agg(
            (
                100.0
                * F.sum(promo_vol).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_share_pct"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q18-style: large orders via HAVING + semi-join back to detail.
# ---------------------------------------------------------------------------


@query(
    "q18_large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
      strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
      o.o_totalprice,
      {_dsum_sql('l.l_quantity', 'total_qty')}
    FROM orders o
    JOIN big b      ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey,
      strftime(o.o_orderdate, '%Y-%m-%d'), o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders (engine extension per
    SURVEY.md §2.4/§2.5): orders whose total
    quantity exceeds 250, re-joined to customer + detail. The HAVING
    threshold is selective, so the qualifying-key set is SMALL and AQE
    broadcasts it for the LEFT SEMI probe (verified in the plan:
    BroadcastHashJoin LeftSemi over the aggregated keys) — lineitem is
    never shuffled for the semi-join, only aggregated once for HAVING
    and once for the final detail grouping. Quantity sums
    decimal-exact so the >250 borderline is cross-engine identical."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(big, on="l_orderkey", how="left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
        .agg(dsum(F.col("l_quantity"), "total_qty"))
    )


# ---------------------------------------------------------------------------
# Q13-style: outer-join count distribution (count of counts).
# ---------------------------------------------------------------------------


@query(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped count-of-counts (engine extension per SURVEY.md
    §2.4/§2.5 — outer-join + aggregation family): per-customer non-urgent order
    counts (LEFT join so order-less customers count 0 — count(col)
    skips the nulls an outer join manufactures), then the histogram of
    those counts. Two aggregations, but the second groups on the tiny
    distinct-count domain — its shuffle is negligible; the join itself
    broadcasts customer. The join-side filter lives in the JOIN
    condition, not WHERE — on an outer join those are different
    results, a classic correctness trap the oracle locks in."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        F.broadcast(customer)
        .join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# ---------------------------------------------------------------------------
# Q15-style: top-revenue supplier via max-over-aggregate self-reference.
# ---------------------------------------------------------------------------


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        {_dsum_sql('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped max-over-aggregate (engine extension per
    SURVEY.md §2.5): quarterly revenue per
    supplier, keep the supplier(s) hitting the global max (WHERE =
    scalar MAX subquery, ties all kept — not LIMIT 1). The revenue
    aggregate is computed ONCE and reused for both the max and the
    filter (Spark caches nothing here but the plan references one
    subtree; at scale, persist() it explicitly if the optimizer
    rescans). Revenue uses exact decimal summation so the max
    comparison — equality on a double! — is cross-engine safe."""
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        supplier.join(revenue, supplier.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q17-style: correlated aggregate subquery, decorrelated to agg+join.
# ---------------------------------------------------------------------------


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey,
        {_davg_sql('l_quantity', 'avg_qty')}
      FROM lineitem GROUP BY l_partkey
    )
    SELECT
      {_dsum_sql('l.l_extendedprice', 'total_price')},
      count(*) AS n_small
    FROM lineitem l
    JOIN part_avg pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated aggregate subquery — lineitems
    below 20% of their part's average quantity (engine extension:
    SURVEY.md §2.5 has no correlated aggregates). Written DECORRELATED
    — per-part averages via one groupBy, joined back on partkey —
    which is exactly what a per-row correlated subquery must become to
    scale: one aggregate pass + one equi-join instead of a rescan per
    outer row. Threshold average uses the exact decimal-sum form so
    the borderline `<` comparison is bit-identical across engines."""
    li = read_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy("l_partkey").agg(davg(F.col("l_quantity"), "avg_qty"))
    return (
        li.join(part_avg, on="l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum(F.col("l_extendedprice"), "total_price"),
            F.count("*").alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# Window frame aggregates: running + moving sums per user.
# ---------------------------------------------------------------------------


@query(
    "window_moving_value",
    oracle="""
    SELECT event_id, user_id,
      CAST(sum(CAST(value AS DECIMAL(28,6)))
        OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS running_value,
      CAST(sum(CAST(value AS DECIMAL(28,6)))
        OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS moving_value_4,
      count(*)
        OVER (PARTITION BY user_id ORDER BY event_id
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        AS n_in_frame
    FROM events
    WHERE user_id % 7 = 0
    """,
)
def window_moving_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME aggregates (engine extension per SURVEY.md §2.5 —
    completes the
    window family next to window_rank_per_user's ranking/offset
    functions): per-user running total and a 4-row moving sum/count.
    ROWS frames over a unique ordering key (event_id) are
    deterministic; frame sums go through the exact decimal pattern
    because engines differ in sliding-sum evaluation order (Spark
    re-adds the frame, DuckDB may evict incrementally — exact decimal
    addition makes both orders identical). Same scale shape as any
    partitioned window: one shuffle on user_id, local sort, O(frame)
    state per row. A deterministic partition-key filter (user_id % 7)
    bounds the output for cross-engine hashing; it commutes with the
    PARTITION BY user_id windows."""
    events = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 7 == 0
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_mov = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-3, 0)
    dec = F.col("value").cast("decimal(28,6)")
    return events.select(
        "event_id",
        "user_id",
        F.sum(dec).over(w_run).cast("double").alias("running_value"),
        F.sum(dec).over(w_mov).cast("double").alias("moving_value_4"),
        F.count("*").over(w_mov).alias("n_in_frame"),
    )


# ---------------------------------------------------------------------------
# Q19-style: disjunctive multi-attribute predicate over a fact⋈dim join.
# ---------------------------------------------------------------------------


@query(
    "q19_disjunctive_pushdown",
    oracle=f"""
    SELECT
      {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
      count(*) AS n_matches
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive (OR-of-ANDs) predicate spanning a
    fact⋈dim join (engine extension — SURVEY.md §2.3's filter family at
    its hardest planner shape). Catalyst extracts the common
    single-table conjuncts from the OR: the part side is pre-filtered
    to the 3 brands and the lineitem side to the quantity hull
    (1..30) BEFORE the join, so the disjunction is evaluated on a
    reduced candidate set; part is broadcast, no shuffle on the fact
    side. At 100 TB this pre-join pruning is the difference between
    scanning 3 brands' rows and the whole fact table against the full
    dim."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(band).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Grouped top-k: top-3 customers by balance per nation.
# ---------------------------------------------------------------------------


@query(
    "topk_per_nation",
    oracle="""
    SELECT nation, c_custkey, c_name, c_acctbal, balance_rank
    FROM (
      SELECT n.n_name AS nation, c.c_custkey, c.c_name, c.c_acctbal,
        row_number() OVER (
          PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey
        ) AS balance_rank
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    WHERE balance_rank <= 3
    """,
)
def topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (engine extension — SURVEY.md §2.6's L1 top-k
    generalized per group): top-3 customers by account balance within
    each nation. row_number over a PARTITIONED window + rank filter —
    one shuffle on the group key, each partition sorts locally, and
    Spark's WindowGroupLimit pushes the k=3 limit into the sort so
    per-group state is O(k), not O(rows). Ties broken by custkey for
    determinism. The scalable alternative to any orderBy().limit()
    per-group loop."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("nation").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"), "c_custkey", "c_name", "c_acctbal"
        )
        .withColumn("balance_rank", F.row_number().over(w))
        .filter(F.col("balance_rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Q22-style: scalar-subquery threshold + anti-join (dormant rich
# customers).
# ---------------------------------------------------------------------------


@query(
    "q22_dormant_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
      FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped (engine extension — J2's anti-join family plus
    a scalar aggregate subquery): above-average-balance customers with
    no orders since 2000 — the 'rich but dormant' cohort. The scalar
    threshold is a 1-row aggregate cross-joined (broadcast) onto
    customer — computed once, not per row; the NOT EXISTS is a LEFT
    ANTI join against orders pre-filtered by the date predicate (the
    filter pushes to the orders scan, shrinking the anti-join build
    side). Threshold uses the exact decimal-sum average so the
    borderline comparison is bit-identical across engines."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    threshold = customer.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal"), "avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        customer.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, customer.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@query(
    "q4_priority_semijoin",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def q4_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join (reference J2's semi/anti
    family, SURVEY.md §2.4, at fact-fact shape): orders with at least
    one lineitem shipped after the order date, counted by priority.
    LEFT SEMI join — the probe side short-circuits on first match and
    emits no duplicate rows, so no post-join distinct is needed; one
    shuffle on orderkey."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


# ---------------------------------------------------------------------------
# Pure-SQL interface: the same engine driven through spark.sql.
# ---------------------------------------------------------------------------

_SEGMENT_REVENUE_SQL = """
    SELECT
      c.c_mktsegment AS segment,
      CAST(year(o.o_orderdate) AS INT) AS order_year,
      CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
        AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
      count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, year(o.o_orderdate)
"""


@query("sql_segment_revenue", oracle=_SEGMENT_REVENUE_SQL)
def sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string surface (SURVEY.md §3: the reference has no query
    language at all; this engine exposes BOTH the DataFrame API and
    ANSI SQL over the same tables — the aggregation itself is the §2.5
    A-family at star shape): temp views + ``spark.sql`` running
    revenue by market segment and order year. The SQL text IS the
    DuckDB oracle, modulo nothing — one dialect-shared string drives
    both engines, which is the strongest possible parity statement.
    Catalyst plans it identically to the DataFrame form (same
    broadcast + single orderkey shuffle)."""
    for t in ("lineitem", "orders", "customer"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SEGMENT_REVENUE_SQL)


# ---------------------------------------------------------------------------
# Q16-style: distinct-supplier counts per part bucket, NOT IN exclusion.
# ---------------------------------------------------------------------------


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
      count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 14, 23, 45)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity per part bucket with a NOT
    IN exclusion (engine extension per SURVEY.md §2.4 — the semi/anti
    J2 family at its null-aware variant: NOT IN must yield ZERO rows
    if the subquery produces any NULL, so Catalyst plans a
    null-aware anti join, not a plain left_anti). The exclusion list
    (negative-balance suppliers) is tiny → broadcast; the IN-list size
    filter pushes into the part scan; count(DISTINCT suppkey) is a
    two-phase exact distinct on uniform keys."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    for t, df in (("l", li), ("p", part), ("s", supplier)):
        df.createOrReplaceTempView(f"q16_{t}")
    # NOT IN via SQL so Catalyst's null-aware anti-join planning is
    # exercised (DataFrame left_anti would silently change NULL
    # semantics).
    return spark.sql(
        """
        SELECT p.p_brand, p.p_type, p.p_size,
          count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM q16_l l
        JOIN q16_p p ON p.p_partkey = l.l_partkey
        WHERE p.p_size IN (1, 14, 23, 45)
          AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM q16_s WHERE s_acctbal < 0
          )
        GROUP BY p.p_brand, p.p_type, p.p_size
        """
    )


# ---------------------------------------------------------------------------
# Q8-style: market share of one nation within a region, by year.
# ---------------------------------------------------------------------------


@query(
    "q8_market_share",
    oracle="""
    SELECT order_year,
      CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
                    ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
        / CAST(sum(vol) AS DOUBLE) AS mkt_share,
      count(*) AS n_lineitems
    FROM (
      SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
        n2.n_name AS supp_nation,
        CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,6)) AS vol
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'EUROPE'
    )
    GROUP BY order_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share (engine extension per SURVEY.md
    §2.4/§2.5): NATION_3 suppliers' share of revenue sold into
    EUROPE-region customers, by order year. The share is a conditional sum
    over total sum from ONE pass (CASE-in-sum, like q14); the region
    filter prunes the customer side through two broadcast hops before
    the fact shuffle. Both sums decimal-exact before the double
    division."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation1 = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,6)")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation1), customer.c_nationkey == nation1.n_nationkey)
        .join(F.broadcast(region), nation1.n_regionkey == region.r_regionkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.col("supp_nation"),
            vol.alias("vol"),
        )
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(
        F.lit(0).cast("decimal(28,6)")
    )
    return base.groupBy("order_year").agg(
        (F.sum(nation_vol).cast("double") / F.sum("vol").cast("double")).alias(
            "mkt_share"
        ),
        F.count("*").alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# Q2-style: min-cost supplier per part within a region (correlated MIN).
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
        min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT ps.l_partkey, ps.unit_cost, s.s_name, s.s_acctbal, n.n_name
      FROM ps
      JOIN supplier s ON ps.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ),
    pmin AS (
      SELECT l_partkey, min(unit_cost) AS min_cost FROM eu GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_type, eu.s_name, eu.n_name, eu.s_acctbal,
      eu.unit_cost AS min_unit_cost
    FROM eu
    JOIN pmin ON eu.l_partkey = pmin.l_partkey AND eu.unit_cost = pmin.min_cost
    JOIN part p ON eu.l_partkey = p.p_partkey
    WHERE p.p_size IN (5, 15, 25)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-MIN subquery (engine extension per
    SURVEY.md §2.4; fixtures have no partsupp, so the part×supplier
    catalog is derived from lineitem: min observed unit price per
    (part, supplier)). The correlated ``= (SELECT min(...) WHERE same
    part)`` is written DECORRELATED as a per-part MIN window + equality
    filter — the only form that scales: one pass over the
    region-filtered catalog instead of a rescan per outer row. The
    window form also beats the aggregate+self-join decorrelation: no
    recompute of the catalog subtree and no sort-merge self-join
    (verified via .explain — the oracle keeps the join spelling, which
    is value-equivalent). MIN over doubles is order-insensitive (no
    summation), so the double-equality rendezvous is bit-exact on both
    engines. Supplier/nation/region/part dims all broadcast; the
    shuffles are the (partkey, suppkey) aggregate then the partkey
    window.

    Both dim predicates are additionally pushed BELOW the aggregate as
    broadcast LEFT SEMI joins on the grouping keys (r9 shuffle audit:
    the post-agg spelling shuffled 100% of lineitem when only
    EU-supplier x selected-size rows survive). Exact because both
    filters are functions of grouping columns, and the partkey window
    only ever loses whole partitions (size is per-part) or computes
    over exactly the EU rows it is defined over (region is
    per-supplier, applied before the window either way). Dims are
    broadcast-sized by construction, so the pushdown holds at any
    corpus size."""
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_size").isin(5, 15, 25))
    # fresh READS (not just fresh aliases) for the pushdown branch:
    # supplier and nation are joined again after the aggregate, and the
    # ambiguous-self-join analyzer tracks dataset identity, so reusing
    # those DataFrames here — even behind renames — is rejected; the
    # renamed output columns keep the final plan self-describing
    supplier_b = read_table(spark, sf_dir, "supplier")
    nation_b = read_table(spark, sf_dir, "nation")
    region_b = read_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu_suppkeys = (
        supplier_b.join(
            F.broadcast(nation_b),
            supplier_b.s_nationkey == nation_b.n_nationkey,
        )
        .join(
            F.broadcast(region_b),
            nation_b.n_regionkey == region_b.r_regionkey,
        )
        .select(F.col("s_suppkey").alias("_eu_suppkey"))
    )
    li = li.join(
        F.broadcast(eu_suppkeys),
        li.l_suppkey == F.col("_eu_suppkey"),
        "left_semi",
    ).join(
        F.broadcast(part.select(F.col("p_partkey").alias("_sel_partkey"))),
        F.col("l_partkey") == F.col("_sel_partkey"),
        "left_semi",
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        # try_divide: a zero-quantity line would ANSI-crash a plain /;
        # DuckDB yields NULL there and min() skips it — try_divide
        # gives Spark the identical skip semantics.
        F.min(
            F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
        ).alias("unit_cost")
    )
    eu = (
        ps.join(F.broadcast(supplier), ps.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("l_partkey", "unit_cost", "s_name", "n_name", "s_acctbal")
    )
    min_cost = F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    return (
        eu.withColumn("min_cost", min_cost)
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "p_partkey",
            "p_type",
            "s_name",
            "n_name",
            "s_acctbal",
            F.col("unit_cost").alias("min_unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Q9-style: product-line profit by supplier nation and order year.
# ---------------------------------------------------------------------------


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS supp_nation,
      CAST(year(o.o_orderdate) AS INT) AS order_year,
      {_dsum_sql(
        'l.l_extendedprice * (1 - l.l_discount)'
        ' - 0.6 * p.p_retailprice * l.l_quantity',
        'profit',
      )}
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup (engine extension per SURVEY.md
    §2.5; no partsupp in the fixtures, so supply cost is modeled as
    60% of p_retailprice). Five-way join where three dims broadcast
    (part with the LIKE filter applied BEFORE the join so the
    substring match prunes the build side, supplier, nation) and the
    one big⋈big join (lineitem⋈orders) shuffles on orderkey; profit
    summed decimal-exact, grouped by supplier nation × order year."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(dsum(profit, "profit"))
    )


# ---------------------------------------------------------------------------
# Q11-style: important parts — grouped HAVING vs a global scalar subquery.
# ---------------------------------------------------------------------------


@query(
    "q11_important_parts",
    oracle="""
    WITH nval AS (
      SELECT l.l_partkey,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
          AS part_value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_1'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, part_value
    FROM nval
    WHERE part_value > (
      SELECT CAST(sum(CAST(part_value AS DECIMAL(28,6))) AS DOUBLE) * 0.001
      FROM nval
    )
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped 'important stock' (engine extension per
    SURVEY.md §2.5; partsupp value ≡ lineitem extendedprice of one
    nation's suppliers). The distinctive shape: a grouped aggregate
    filtered against a GLOBAL scalar aggregate of itself — the scalar
    side is a 1-row DataFrame broadcast-cross-joined into the grouped
    side (Catalyst turns the cross join into a literal-like stream
    side; no shuffle added). Both the per-part sums and the global
    threshold sum are decimal-exact, so the > comparison is bit-stable.
    At 100 TB the nval aggregate is the only shuffle; nval is cached so
    the threshold branch and the probe branch share ONE computation of
    it instead of re-running the lineitem scan + aggregate (the
    recompute shows up as a second Exchange in the uncached plan —
    verified via .explain)."""
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1"
    )
    nval = (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice"), "part_value"))
        .cache()
    )
    threshold = nval.agg(
        (F.sum(F.col("part_value").cast("decimal(28,6)")).cast("double") * 0.001).alias(
            "threshold"
        )
    )
    return (
        nval.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# Q20-style: dominant suppliers of a part family (correlated-agg semi-join).
# ---------------------------------------------------------------------------


@query(
    "q20_dominant_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS supp_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    total AS (
      SELECT l_partkey,
        CAST(sum(CAST(supp_qty AS DECIMAL(28,6))) AS DOUBLE) AS part_qty
      FROM shipped GROUP BY l_partkey
    )
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT sh.l_suppkey
      FROM shipped sh
      JOIN total t ON sh.l_partkey = t.l_partkey
      JOIN part p  ON sh.l_partkey = p.p_partkey
      WHERE p.p_name LIKE '%blue%' AND sh.supp_qty > 0.1 * t.part_qty
    )
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested-subquery semi-join (engine extension per
    SURVEY.md §2.4; availqty > half-of-shipped becomes: supplier ships
    over 10% of a 'blue' part's total volume — same correlated
    aggregate-vs-aggregate threshold, same IN-chain). Planned as ONE
    aggregate + a per-part window: per-(part,supplier) quantities,
    part totals as a decimal-exact window sum over the SAME pass (the
    aggregate+join-back spelling the oracle keeps would recompute the
    shipped subtree — verified via .explain), filter, then supplier
    LEFT SEMI the qualifying suppkey set. part is filtered before its
    broadcast join; the window shuffles on partkey, a prefix of the
    aggregate's (partkey, suppkey) key. The qualifying set is
    DISTINCT-ed to suppkeys before an explicit broadcast hint: the
    raw qualifying rows scale with (part, supplier) pairs — the x10
    plan sweep caught Catalyst flipping that semi-join to a
    SortMergeJoin once stats outgrew the threshold — while the
    distinct suppkey set is bounded by the supplier dim, so the
    broadcast holds at any corpus size (duplicates collapse map-side
    in the partial aggregate, keeping the distinct's shuffle tiny).

    The blue-part predicate is pushed BELOW the aggregate as a
    broadcast LEFT SEMI join on l_partkey (r9 shuffle audit: the
    post-window inner join shuffled every (part, supplier) pair when
    only blue parts survive). Exact: the predicate is a function of
    the grouping/window-partition key, so the pushdown removes whole
    window partitions and never changes a surviving part's total; the
    former inner join with `part` contributed no columns (p_partkey is
    the dim PK, join ≡ filter) and is dropped outright."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    li = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == part.p_partkey,
        "left_semi",
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        dsum(F.col("l_quantity"), "supp_qty")
    )
    part_qty = (
        F.sum(F.col("supp_qty").cast("decimal(28,6)"))
        .over(Window.partitionBy("l_partkey"))
        .cast("double")
    )
    qualifying = (
        shipped.withColumn("part_qty", part_qty)
        .filter(F.col("supp_qty") > 0.1 * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(qualifying),
            supplier.s_suppkey == qualifying.l_suppkey,
            "left_semi",
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Q21-style: sole-blame suppliers — EXISTS + NOT EXISTS, dialect-shared SQL.
# ---------------------------------------------------------------------------

_Q21_SQL = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
JOIN nation n    ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
  AND n.n_name = 'NATION_2'
GROUP BY s.s_name
"""


@query("q21_sole_blame_suppliers", oracle=_Q21_SQL)
def q21_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped double-correlated existence test (engine
    extension per SURVEY.md §2.4; the fixtures lack commit/receipt
    dates, so 'late' is modeled by l_returnflag='R' on 'F'-status
    orders): suppliers who returned a line on a multi-supplier order
    where NO other supplier returned one. EXISTS plans as a left-semi
    and NOT EXISTS as a left-anti join on (orderkey, suppkey<>) —
    both shuffle on orderkey, the same key as the orders join, so
    Catalyst/AQE reuses one exchange ancestry across all three. The
    SQL text is dialect-shared: the identical string runs on Spark
    (temp views) and DuckDB (oracle)."""
    for t in ("lineitem", "orders", "supplier", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q21_SQL)


# ---------------------------------------------------------------------------
# Bucketed co-located fact⋈fact join — the zero-shuffle storage layout.
# ---------------------------------------------------------------------------


_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@query(
    "join_bucketed_orderkey",
    oracle=f"""
    SELECT o.o_orderpriority,
      {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
      count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over PRE-BUCKETED tables (engine extension per
    SURVEY.md §2.4 + SCALE.md's layout story): lineitem and orders are
    written bucketed+sorted by orderkey (external tables, 8 buckets),
    then joined through the catalog — both exchanges vanish because
    the storage layout IS the join partitioning, the strategy that
    turns the recurring 100 TB fact⋈fact shuffle into a map-side
    merge. Broadcast is disabled during execution (else the small
    fixture side would short-circuit the demonstration) and the result
    is frozen with an eager localCheckpoint so the returned frame
    doesn't depend on the restored session conf; the no-Exchange plan
    property is asserted in tests/test_bucketing.py. The revenue
    rollup on top keeps the checked output compact (decimal-exact
    sums). The oracle is the logical-plan mirror over the raw parquet
    — bucketing is pure physical layout, so values must be identical.

    The bucketed layout is REUSED across invocations in a session
    (source-fingerprint marker + catalog check): writing the layout is
    a one-time amortized cost in production — the whole point of
    bucketing is that repeated fact⋈fact joins stop paying the shuffle
    — so only the first call per (session, sf_dir, source state) pays
    the write; any source change invalidates the fingerprint and
    rebuilds."""
    li_name, ord_name = _ensure_bucketed_orderkey_layout(spark, sf_dir)
    with scoped_conf(spark, _NO_BROADCAST):
        return _bucketed_orderkey_frame(spark, li_name, ord_name).transform(pin)


def _ensure_bucketed_orderkey_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Materialize (or reuse) the bucketed+sorted lineitem/orders
    warehouse tables for ``sf_dir``; returns their catalog names.
    Shared by the query itself and the x10 plan sweep (r10: the sweep
    builds the layout at the replica instead of skipping the query)."""
    import os
    import tempfile

    import hashlib

    # key on the FULL path (basename + short path hash): two fixture
    # dirs sharing a basename must not thrash one cache slot
    norm_dir = os.path.normpath(os.path.abspath(sf_dir))
    path_tag = hashlib.md5(norm_dir.encode()).hexdigest()[:8]
    sf_tag = (
        os.path.basename(norm_dir).replace(".", "_").replace("-", "_")
        + "_"
        + path_tag
    )
    # per-user cache root: the system temp dir is shared, and two
    # users' sessions racing one layout dir (one reading tables while
    # the other DROP+overwrites) is not a race worth having
    uid = getattr(os, "getuid", lambda: "u")()
    base = os.path.join(
        tempfile.gettempdir(), f"wdps_bucketed_{uid}", sf_tag
    )
    li_name = f"wdps_li_bucketed_{sf_tag}"
    ord_name = f"wdps_ord_bucketed_{sf_tag}"

    def _fingerprint() -> str:
        parts = []
        for t in ("lineitem", "orders"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            files = (
                sorted(
                    os.path.join(dp, f)
                    for dp, _, fs in os.walk(p)
                    for f in fs
                    if not f.startswith(("_", "."))
                )
                if os.path.isdir(p)
                else [p]
            )
            stats = [os.stat(f) for f in files]
            parts.append(
                f"{t}:{len(files)}:{sum(s.st_size for s in stats)}:"
                f"{max((s.st_mtime_ns for s in stats), default=0)}"
            )
        return ";".join(parts)

    def _read_marker(path: str) -> str | None:
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return f.read()

    fp = _fingerprint()
    marker = os.path.join(base, "_FINGERPRINT")
    reusable = (
        _read_marker(marker) == fp
        and spark.catalog.tableExists(li_name)
        and spark.catalog.tableExists(ord_name)
    )
    if not reusable:
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders")
        for name, df, key in (
            (li_name, li, "l_orderkey"),
            (ord_name, orders, "o_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(base, name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        # marker committed atomically (tmp + rename) and only AFTER
        # both tables land: a crash mid-build leaves no marker (next
        # call rebuilds) instead of a truncated one that could
        # half-validate
        os.makedirs(base, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=base)
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(fp)
        os.replace(tmp, marker)
    return li_name, ord_name


def _bucketed_orderkey_frame(
    spark: SparkSession, li_name: str, ord_name: str
) -> DataFrame:
    lb = spark.table(li_name)
    ob = spark.table(ord_name)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def join_bucketed_orderkey_audit_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x10-sweep variant (r10 verdict item 2): build the bucketed
    layout for ``sf_dir`` and return the UN-checkpointed join frame,
    its physical plan forced while broadcast is disabled — so the
    sweep audits the actual bucketed-join strategy (zero Exchange,
    SMJ riding the layout) at any scale instead of a checkpoint
    scan."""
    li_name, ord_name = _ensure_bucketed_orderkey_layout(spark, sf_dir)
    with scoped_conf(spark, _NO_BROADCAST):
        joined = _bucketed_orderkey_frame(spark, li_name, ord_name)
        # force the cached physical plan under the pinned conf; the
        # audit's later toString() reuses it
        joined._jdf.queryExecution().executedPlan()
    return joined


# ---------------------------------------------------------------------------
# Q12-shaped: late-shipment counts split by order priority class.
# ---------------------------------------------------------------------------


@query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT
      l.l_returnflag AS ship_class,
      CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped join: conditional-count aggregation over a
    fact⋈fact equi-join with a POST-JOIN date-arithmetic predicate
    (l_shipdate ≥ o_orderdate + 60 days — the late-shipment analog;
    the fixtures carry no shipmode/commitdate/receiptdate, which is
    why the original Q12 was skipped). Closes the last hole in the
    join-shape sweep: CASE-inside-sum classification, which Spark
    plans as a single hash aggregate after the join — no per-class
    scans. The l_shipdate range predicate is join-independent and
    pushes to the parquet scan; the cross-table date comparison
    evaluates join-side. At 100 TB the equi-join shuffles on orderkey
    (or rides the bucketed layout, see join_bucketed_orderkey); the
    aggregate output is 3 rows — nothing else is wide."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        # INTERVAL arithmetic, not date_add: date_add truncates the
        # timestamp to DATE (time-of-day dropped), silently diverging
        # from the oracle's `+ INTERVAL 60 DAY` if fixtures ever carry
        # non-midnight order timestamps.
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(high.cast("int")).cast("bigint").alias("high_line_count"),
            F.sum((~high).cast("int")).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Broadcast-dictionary enrichment: literal map lookup, zero joins.
# ---------------------------------------------------------------------------

_LANG_NAMES = {
    "en": "English",
    "de": "German",
    "fr": "French",
    "es": "Spanish",
    # 'zh' deliberately absent → exercises the miss/default path
}


@query(
    "dict_broadcast_enrichment",
    oracle="""
    SELECT doc_id, lang,
      CASE lang
        WHEN 'en' THEN 'English'
        WHEN 'de' THEN 'German'
        WHEN 'fr' THEN 'French'
        WHEN 'es' THEN 'Spanish'
        ELSE 'unknown' END AS language_name,
      CASE WHEN lang IN ('en', 'de', 'fr', 'es') THEN TRUE ELSE FALSE END
        AS dict_hit
    FROM documents
    WHERE doc_id % 11 = 0
    """,
)
def dict_broadcast_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dictionary keyed lookup (the reference's in-memory
    category/language map analog — a Python dict consulted per row,
    src/data_processor.py's constant maps): the dict becomes a LITERAL
    map expression (create_map of constants), so the lookup runs
    inside whole-stage codegen on every executor — zero joins, zero
    shuffles, and the dictionary ships with the serialized plan
    exactly like a broadcast variable, without touching the RDD API.
    Misses fall back to a default ('unknown') — the reference's
    dict.get(k, default). For dictionaries too big to inline (> a few
    MB) the right form is a broadcast hash join against a dim table
    (j1_enrichment_join); this is the small-dict fast path. Output is
    bounded by a deterministic key filter for comparator hashing."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = [p for kv in _LANG_NAMES.items() for p in (F.lit(kv[0]), F.lit(kv[1]))]
    lang_map = F.create_map(*pairs)
    name = lang_map[F.col("lang")]
    return docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        "lang",
        F.coalesce(name, F.lit("unknown")).alias("language_name"),
        name.isNotNull().alias("dict_hit"),
    )
