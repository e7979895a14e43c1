"""Oracle-paired relational query suite — SURVEY §2 coverage.

Each entry is a (PySpark callable, DuckDB oracle SQL) pair over the
driver-generated tables (TESTDATA.md).  The Spark side is expressed with
the DataFrame API (Catalyst is the optimizer); the oracle is ANSI SQL run
by DuckDB on the same parquet — the driver hash-compares results.

Conventions for hash parity (driver sorts columns by name, then compares
order-insensitive value hashes):
- every computed column is aliased identically on both sides;
- float aggregates are wrapped in round(x, 2..4) on both sides so
  last-ulp differences from summation order can't flip the hash;
- LIMIT appears only under a total order (unique tiebreaker column).

Registry: ``QUERIES[name] -> fn(spark, sf_dir) -> DataFrame`` and
``ORACLES[name] -> sql | None`` (None = rows-only check).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import QUERIES, ORACLES, query, staged_query  # noqa: F401
from .tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _scratch_root(face: str, sf_dir: str) -> str:
    """Per-process scratch directory for faces that materialize a real
    on-disk warehouse (q110/q113/q114/q123...). The pid suffix keeps two
    concurrent drivers on the same host (bench alongside a correctness
    sweep) from racing rmtree against each other's lazy snapshot reads;
    the atexit hook removes this process's dirs so repeated sweeps leave
    no growing tempdir residue. Re-entry within one process overwrites
    in place (the faces rmtree/overwrite their own tables)."""
    import atexit
    import re as _re
    import shutil
    import tempfile

    tag = _re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir))
    )
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{face}_{tag}_{os.getpid()}"
    )
    if root not in _SCRATCH_ROOTS:
        _SCRATCH_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


_SCRATCH_ROOTS: set[str] = set()


def assert_df_identical(a, b, what: str) -> None:
    """Multiset equality guard for dual-path fold faces (the q114
    fixture precedent, generalized in r18 for the q151/q155/q156
    oracle-twin folds): a registered face computes the SAME relation
    through two engine paths and refuses loudly on any divergence
    before returning one of them to the driver. Distributed symmetric
    ``exceptAll`` — nothing result-sized reaches the driver, and the
    multiset semantics catch duplicate-cardinality drift a set-diff
    would hide. Exactness is by construction: both paths share the
    bit-identical kernels their common oracle pins, so the compare is
    ==, not a tolerance."""
    diff = a.exceptAll(b).unionAll(b.exceptAll(a)).limit(1).collect()
    if diff:
        raise AssertionError(
            f"{what}: dual-path fold diverged; first differing row: "
            f"{diff[0].asDict()}"
        )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY A1/A2/A6, F8) — TPC-H Q1 flavor
# ---------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-way join + agg (SURVEY J1) — TPC-H Q5 flavor; dims broadcast
# ---------------------------------------------------------------------------

@query(
    "q02_revenue_by_nation",
    """
    SELECT r_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY r_name, n_name
    """,
)
def q02_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Filter + join + group + total-order LIMIT (SURVEY O2) — TPC-H Q3 flavor
# ---------------------------------------------------------------------------

@query(
    "q03_top_orders",
    """
    SELECT o_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-06-30'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_top_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    return (
        F.broadcast(cust)
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (SURVEY A2, F8) — the planner's CASE-sum shape
# ---------------------------------------------------------------------------

@query(
    "q04_priority_counts",
    # Hash-parity pins: DuckDB sums BIGINT into HUGEINT (hashes differently
    # from int64) -> CAST the CASE-sums; the price is converted to exact
    # integer cents PER ROW before summing, so the sum is order-independent
    # integer arithmetic on both engines — no summation-order ulp drift at
    # any scale factor.
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS big_value_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q04_priority_counts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(
            F.when(
                F.col("o_totalprice") > 150000,
                F.round(F.col("o_totalprice") * 100).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("big_value_cents"),
    )


# ---------------------------------------------------------------------------
# Range filter + global agg (SURVEY A5, P5) — TPC-H Q6 flavor
# ---------------------------------------------------------------------------

@query(
    "q05_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q05_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# DISTINCT projection (SURVEY P2)
# ---------------------------------------------------------------------------

@query(
    "q06_distinct_segments",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer WHERE c_acctbal > 0",
)
def q06_distinct_segments(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_mktsegment", "c_nationkey")
        .distinct()
    )


# ---------------------------------------------------------------------------
# UNION DISTINCT (SURVEY U1 — Snowflake UNION = distinct, §7.5 trap 1)
# ---------------------------------------------------------------------------

@query(
    "q07_union_nation_keys",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q07_union_nation_keys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# ---------------------------------------------------------------------------
# Anti / semi joins (SURVEY J3/J4)
# ---------------------------------------------------------------------------

@query(
    "q08_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q08_customers_without_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q09_active_customers",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000
    )
    """,
)
def q09_active_customers(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# Window: top-N per group (SURVEY W1 + P6 — rank + filter rank<=k)
# ---------------------------------------------------------------------------

@query(
    "q10_top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q10_top_orders_per_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# ---------------------------------------------------------------------------
# Window: latest-wins per key (SURVEY W1 — the CDC dedup shape, ref :380-397)
# ---------------------------------------------------------------------------

@query(
    "q11_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rk
        FROM events
    ) WHERE rk = 1
    """,
)
def q11_latest_event_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# String/regex functions (SURVEY F1-F6, P8, P9)
# ---------------------------------------------------------------------------

@query(
    "q12_part_name_parsing",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           substring(p_name, position(' ' IN p_name) + 1)  AS second_word,
           regexp_replace(p_name, ' .*$', '')              AS first_word,
           CASE WHEN regexp_matches(p_name, '^(red|blue|green) .*') THEN 1 ELSE 0 END AS is_color,
           CASE WHEN p_brand LIKE 'Brand#1%' THEN 1 ELSE 0 END AS brand1x
    FROM part
    """,
)
def q12_part_name_parsing(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    name = F.col("p_name")
    return part.select(
        "p_partkey",
        F.upper(name).alias("name_upper"),
        # substring-from-computed-offset, ref :131 shape (F4/F5)
        F.expr("substring(p_name, locate(' ', p_name) + 1)").alias("second_word"),
        F.regexp_replace(name, r" .*$", "").alias("first_word"),
        F.when(name.rlike(r"^(red|blue|green) .*"), 1).otherwise(0).alias("is_color"),
        F.when(F.col("p_brand").like("Brand#1%"), 1).otherwise(0).alias("brand1x"),
    )


@query(
    "q13_file_prefix_grouping",
    """
    SELECT regexp_replace(fname, '/(LOAD[0-9]{8}|2[0-9]{7}-[0-9]{9})..*$', '') AS file_prefix,
           max(CASE WHEN regexp_matches(fname, '.*/LOAD.*\\..*$') THEN '0'
                    ELSE regexp_extract(fname, '([^/]+)$', 1) END) AS last_incremental_file,
           count(*) AS n_files
    FROM (
        SELECT 'dms/sch' || CAST(user_id % 3 AS VARCHAR) || '/tbl' || CAST(user_id % 5 AS VARCHAR) ||
               CASE WHEN event_id % 3 = 0
                    THEN '/LOAD000000' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || '.csv'
                    ELSE '/2024010' || CAST(event_id % 10 AS VARCHAR) || '-' ||
                         lpad(CAST(event_id AS VARCHAR), 9, '0') || '.csv'
               END AS fname
        FROM events
    )
    GROUP BY 1
    """,
)
def q13_file_prefix_grouping(spark, sf_dir):
    """The planner's listing-group shape (ref :126-139) over a listing
    synthesized deterministically from the events table — covers F1/F2/F3
    + A3 string-max exactly as stage_summary_df does."""
    ev = _t(spark, sf_dir, "events")
    fname = F.concat(
        F.lit("dms/sch"),
        (F.col("user_id") % 3).cast("string"),
        F.lit("/tbl"),
        (F.col("user_id") % 5).cast("string"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("/LOAD000000"),
                F.lpad((F.col("event_id") % 100).cast("string"), 2, "0"),
                F.lit(".csv"),
            ),
        ).otherwise(
            F.concat(
                F.lit("/2024010"),
                (F.col("event_id") % 10).cast("string"),
                F.lit("-"),
                F.lpad(F.col("event_id").cast("string"), 9, "0"),
                F.lit(".csv"),
            )
        ),
    )
    listing = ev.select(fname.alias("fname"))
    return listing.groupBy(
        F.regexp_replace(
            "fname", r"/(LOAD[0-9]{8}|2[0-9]{7}-[0-9]{9})..*$", ""
        ).alias("file_prefix")
    ).agg(
        F.max(
            F.when(F.col("fname").rlike(r".*/LOAD.*\..*$"), F.lit("0")).otherwise(
                F.regexp_extract("fname", r"([^/]+)$", 1)
            )
        ).alias("last_incremental_file"),
        F.count(F.lit(1)).alias("n_files"),
    )


# ---------------------------------------------------------------------------
# JSON / variant access (SURVEY §1.2 variant → from_json/get_json_object)
# ---------------------------------------------------------------------------

@query(
    "q14_json_props",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q14_json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Timestamp bucketing (SURVEY F7/F10 family; streaming tumbling-window shape)
# ---------------------------------------------------------------------------

@query(
    "q15_orders_by_month",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
)
def q15_orders_by_month(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q16_hourly_event_windows",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q16_hourly_event_windows(spark, sf_dir):
    """Tumbling 1-hour window via F.window — identical semantics to the
    Structured Streaming windowed agg (streaming/ uses the same expression
    inside readStream)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# The load-type planner decision as a query (SURVEY E1.4, ref :113-148)
# ---------------------------------------------------------------------------

@query(
    "q17_load_plan",
    """
    WITH listing AS (
        SELECT 'lake' AS stage,
               'dms/sch' || CAST(user_id % 3 AS VARCHAR) || '/tbl' || CAST(user_id % 5 AS VARCHAR) ||
               CASE WHEN event_id % 3 = 0
                    THEN '/LOAD000000' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || '.csv'
                    ELSE '/2024010' || CAST(event_id % 10 AS VARCHAR) || '-' ||
                         lpad(CAST(event_id AS VARCHAR), 9, '0') || '.csv'
               END AS file,
               ts AS file_date
        FROM events
    ),
    summary AS (
        SELECT stage,
               regexp_replace(file, '/(LOAD[0-9]{8}|2[0-9]{7}-[0-9]{9})..*$', '') AS file_prefix,
               max(CASE WHEN regexp_matches(file, '.*/LOAD.*\\..*$') THEN '0'
                        ELSE regexp_extract(file, '([^/]+)$', 1) END) AS last_incremental_file,
               max(CASE WHEN regexp_matches(file, '.*/LOAD.*\\..*$') THEN file_date ELSE NULL END) AS full_load_file_date
        FROM listing GROUP BY 1, 2
    ),
    dms AS (
        SELECT DISTINCT
               'dms/sch' || CAST(user_id % 3 AS VARCHAR) || '/tbl' || CAST(user_id % 5 AS VARCHAR) AS full_path,
               'LAKE' AS stage,
               CASE WHEN user_id % 2 = 0 THEN '0' ELSE '20240109-999999999' END AS last_incremental_file,
               CASE WHEN user_id % 4 = 0 THEN TIMESTAMP '2099-01-01' ELSE TIMESTAMP '2024-01-01' END AS last_full_load_date
        FROM events
    )
    SELECT dms.full_path,
           CASE WHEN s.last_incremental_file > dms.last_incremental_file
                     AND s.full_load_file_date > dms.last_full_load_date THEN 'B'
                WHEN s.last_incremental_file > dms.last_incremental_file THEN 'I'
                WHEN s.full_load_file_date   > dms.last_full_load_date   THEN 'F'
                ELSE 'N'
           END AS load_type
    FROM dms
    JOIN summary s
      ON dms.full_path = s.file_prefix
     AND upper(dms.stage) = upper(s.stage)
     AND (s.last_incremental_file > dms.last_incremental_file
          OR s.full_load_file_date > dms.last_full_load_date)
    """,
)
def q17_load_plan(spark, sf_dir):
    """planner.load_plan_df over a listing + metadata synthesized from
    events — the full reference planner join/CASE (ref :113-148), oracle-
    checked.  Worker assignment (xxhash64) is excluded: not portable SQL."""
    from .partitioning import spread
    from .planner import load_plan_df

    # Both synthesized relations (listing + dms) derive from events; persist
    # the 3-column base so the scan+regex runs once, not twice. Spark's
    # CacheManager keys on the canonicalized plan, so repeated bench calls
    # reuse one cache entry rather than accumulating copies.
    ev = spread(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    ).persist()
    fname = F.concat(
        F.lit("dms/sch"),
        (F.col("user_id") % 3).cast("string"),
        F.lit("/tbl"),
        (F.col("user_id") % 5).cast("string"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("/LOAD000000"),
                F.lpad((F.col("event_id") % 100).cast("string"), 2, "0"),
                F.lit(".csv"),
            ),
        ).otherwise(
            F.concat(
                F.lit("/2024010"),
                (F.col("event_id") % 10).cast("string"),
                F.lit("-"),
                F.lpad(F.col("event_id").cast("string"), 9, "0"),
                F.lit(".csv"),
            )
        ),
    )
    listing = ev.select(
        F.lit("lake").alias("stage"), fname.alias("file"), F.col("ts").alias("file_date")
    )
    dms = ev.select(
        F.concat(
            F.lit("dms/sch"),
            (F.col("user_id") % 3).cast("string"),
            F.lit("/tbl"),
            (F.col("user_id") % 5).cast("string"),
        ).alias("full_path"),
        F.lit("LAKE").alias("stage"),
        F.when(F.col("user_id") % 2 == 0, F.lit("0"))
        .otherwise(F.lit("20240109-999999999"))
        .alias("last_incremental_file"),
        F.when(
            F.col("user_id") % 4 == 0, F.lit("2099-01-01").cast("timestamp")
        )
        .otherwise(F.lit("2024-01-01").cast("timestamp"))
        .alias("last_full_load_date"),
    ).distinct()
    return load_plan_df(listing, dms).select("full_path", "load_type")


# ---------------------------------------------------------------------------
# The CDC MERGE as a query (SURVEY S11/J2/W1, ref :369-408)
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
    WITH target AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               CAST(c_acctbal AS DECIMAL(12,2)) AS c_balance_dec
        FROM customer
    ),
    changes AS (
        SELECT CASE WHEN o_orderkey % 10 < 2 THEN 'D'
                    WHEN o_orderkey % 10 < 6 THEN 'U'
                    ELSE 'I' END AS op,
               CASE WHEN o_orderkey % 10 >= 6 THEN o_custkey + 1000000
                    ELSE o_custkey END AS c_custkey,
               'chg-' || CAST(o_orderkey AS VARCHAR) AS c_name,
               CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
               o_totalprice + 1000 AS c_acctbal,
               o_orderpriority AS c_mktsegment,
               CAST(o_totalprice + 1000 AS DECIMAL(12,2)) AS c_balance_dec,
               o_orderdate AS _file,
               o_orderkey AS _rownum
        FROM orders
    ),
    deduped AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _file DESC, _rownum DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment,
           CAST(CASE WHEN s.c_custkey IS NOT NULL THEN s.c_balance_dec ELSE t.c_balance_dec END
                AS DOUBLE) AS c_balance_dec
    FROM target t
    FULL OUTER JOIN deduped s ON t.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL OR s.op <> 'D'
"""


@query("q18_cdc_merge", _CDC_ORACLE)
def q18_cdc_merge(spark, sf_dir):
    """merge.apply_changes applied to a change-set derived deterministically
    from orders: op by orderkey%10 (D/U/I), I-rows target absent keys
    (insert path), latest-wins ordered by (o_orderdate, o_orderkey) —
    exercising every MERGE branch of ref :401-407 plus the ref :380-397
    dedup, hash-checked against a pure-SQL restatement."""
    from .merge import apply_changes

    # DecimalType(12,2) flows end-to-end through the merge on both engines,
    # but the DRIVER-FACING output renders it as double: the driver's
    # value-hash disagrees on DECIMAL rendering between engines (r6 red row),
    # so DECIMAL never appears in a final select. Decimal e2e coverage lives
    # in the pytest CSV->merge fixture (sources/csv_stage.py F9 path).
    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_balance_dec", F.col("c_acctbal").cast("decimal(12,2)")
    )
    orders = _t(spark, sf_dir, "orders")
    opmod = F.col("o_orderkey") % 10
    changes = orders.select(
        F.when(opmod < 2, "D").when(opmod < 6, "U").otherwise("I").alias("op"),
        F.when(opmod >= 6, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        F.concat(F.lit("chg-"), F.col("o_orderkey").cast("string")).alias("c_name"),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        # exact double add — stays off round-boundary parity traps
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        (F.col("o_totalprice") + 1000).cast("decimal(12,2)").alias("c_balance_dec"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )
    merged = apply_changes(
        cust,
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    # driver-safe rendering of the decimal column (see docstring)
    return merged.withColumn("c_balance_dec", F.col("c_balance_dec").cast("double"))


# ---------------------------------------------------------------------------
# Gap-based sessionization (streaming/sessions.py batch path) — the custom
# stateful-operator family's oracle-checkable face
# ---------------------------------------------------------------------------

_Q34_ORACLE = """
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, value
                                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, sid
"""


@query("q34_sessionize", _Q34_ORACLE)
def q34_sessionize(spark, sf_dir):
    """Gap-based session windows over events via the built-in
    F.session_window (one shuffle, codegen'd); the oracle restates the
    same split with lag/cumsum. The streaming twin
    (sessions.sessionize_stream, applyInPandasWithState) emits identical
    sessions incrementally — tests/test_streaming.py checks parity."""
    from .streaming.sessions import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(ev, gap="30 minutes")


# ---------------------------------------------------------------------------
# Exact percentiles (corpus length stats) — linear-interpolation quantiles
# ---------------------------------------------------------------------------

_Q35_ORACLE = """
    SELECT source,
           count(*) AS n_docs,
           quantile_cont(n_chars, 0.5)  AS p50_chars,
           quantile_cont(n_chars, 0.95) AS p95_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY source
"""


@query("q35_length_percentiles", _Q35_ORACLE)
def q35_length_percentiles(spark, sf_dir):
    """Per-source document length percentiles: Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the sorted
    linear-interpolation definition, so values match exactly. (The
    approximate path at 100 TB is percentile_approx — same plan shape,
    bounded memory; exact is used here for oracle parity.)"""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.95)").alias("p95_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# ROLLUP hierarchy aggregation
# ---------------------------------------------------------------------------

_Q36_ORACLE = """
    SELECT r_name, n_name,
           round(sum(c_acctbal), 2) AS total_acctbal,
           count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
"""


@query("q36_rollup_acctbal", _Q36_ORACLE)
def q36_rollup_acctbal(spark, sf_dir):
    """Region/nation hierarchy rollup (subtotals + grand total) — one
    shuffle; Spark expands grouping sets map-side."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join — operators/asof.py; oracle is DuckDB's
# native ASOF JOIN, an independent implementation of the same semantics
# ---------------------------------------------------------------------------

_Q39_ORACLE = """
    WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
         c AS (SELECT user_id, ts AS click_ts FROM events
               WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, c.click_ts,
           date_diff('microsecond', c.click_ts, e.ts) AS gap_us
    FROM e ASOF JOIN c ON e.user_id = c.user_id AND c.click_ts < e.ts
"""


@query("q39_asof_attribution", _Q39_ORACLE)
def q39_asof_attribution(spark, sf_dir):
    """Attribution as-of join: for every error event, the latest click by
    the same user strictly before it (union + running-last formulation:
    one shuffle on user_id, no timestamp-range cross product)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    from .operators.asof import asof_backward

    out = asof_backward(
        errors, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        carry=["click_ts"], strict=True, how="inner",
    )
    return out.select(
        "event_id",
        "user_id",
        "click_ts",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "gap_us"
        ),
    )


# ---------------------------------------------------------------------------
# Lead/lag analytics — inter-event gaps per user
# ---------------------------------------------------------------------------

_Q42_ORACLE = """
    SELECT user_id,
           count(*) AS n_gaps,
           max(gap_us) AS max_gap_us,
           CAST(round(avg(gap_us), 0) AS BIGINT) AS avg_gap_us
    FROM (
        SELECT user_id,
               date_diff('microsecond',
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id),
                         ts) AS gap_us
        FROM events
    )
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
"""


@query("q42_event_gaps", _Q42_ORACLE)
def q42_event_gaps(spark, sf_dir):
    """Inter-arrival analytics: per-user gap between consecutive events
    via lag() — one shuffle on user_id shared by the window AND the
    groupBy (same key, so Catalyst reuses the partitioning)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.max("gap_us").alias("max_gap_us"),
        F.round(F.avg("gap_us"), 0).cast("long").alias("avg_gap_us"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view update under CDC)
# ---------------------------------------------------------------------------

# Fixture: the base rollup is orders grouped by priority (integer cents);
# the change-set is synthesized deterministically — orderkey%10==3 rows are
# updated (+100 cents), %10==7 deleted, %10==1 re-inserted under a new key
# and an 'X-NEW' priority (a group that only exists post-merge).  The
# oracle is a FULL RECOMPUTE over the merged snapshot; the Spark side goes
# through operators.incremental.update_rollup, which never re-reads the
# fact rows — that equivalence is exactly what the hash compare pins.
_Q49_ORACLE = """
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    snapshot AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 10 = 3 THEN cents + 100 ELSE cents END
                   AS cents
        FROM base WHERE o_orderkey % 10 <> 7
        UNION ALL
        SELECT o_orderkey * 1000, 'X-NEW', cents
        FROM base WHERE o_orderkey % 10 = 1
    )
    SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS sum_cents,
           count(*) AS n_rows
    FROM snapshot GROUP BY o_orderpriority
"""


@query("q49_incremental_rollup", _Q49_ORACLE)
def q49_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance: fold an I/U/D change-set
    into a per-priority SUM/COUNT rollup without rescanning the fact
    table — O(changes)+O(rollup), vs the oracle's full recompute."""
    from .operators import incremental

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    start = incremental.rollup(base, ["o_orderpriority"], ["cents"])
    mod = F.col("o_orderkey") % 10
    updates = base.filter(mod == 3).select(
        F.lit("U").alias("op"),
        F.col("o_orderpriority").alias("before_o_orderpriority"),
        F.col("cents").alias("before_cents"),
        F.col("o_orderpriority").alias("after_o_orderpriority"),
        (F.col("cents") + 100).alias("after_cents"),
    )
    deletes = base.filter(mod == 7).select(
        F.lit("D").alias("op"),
        F.col("o_orderpriority").alias("before_o_orderpriority"),
        F.col("cents").alias("before_cents"),
        F.lit(None).cast("string").alias("after_o_orderpriority"),
        F.lit(None).cast("long").alias("after_cents"),
    )
    inserts = base.filter(mod == 1).select(
        F.lit("I").alias("op"),
        F.lit(None).cast("string").alias("before_o_orderpriority"),
        F.lit(None).cast("long").alias("before_cents"),
        F.lit("X-NEW").alias("after_o_orderpriority"),
        F.col("cents").alias("after_cents"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return incremental.update_rollup(
        start, changes, ["o_orderpriority"], ["cents"]
    ).select(
        "o_orderpriority",
        F.col("sum_cents").cast("long").alias("sum_cents"),
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Range (interval) join — operators.rangejoin
# ---------------------------------------------------------------------------

# Fixture: every event with value >= 200 opens a 10-minute alert window;
# count the events (and distinct users) landing inside each window — "what
# happened right after every large transaction", with NO equi-key between
# the sides.  The oracle is DuckDB's native inequality join; the Spark side
# goes through operators.rangejoin.range_join, whose bucketed plan is a
# plain equi-join on floor(epoch/600) — that equivalence (and the absence
# of a nested-loop/cartesian node, pinned in test_plans) is what's graded.
_Q53_ORACLE = """
    WITH win AS (
        SELECT event_id AS w_id, event_type AS w_type, ts AS w_start,
               ts + INTERVAL 10 MINUTE AS w_end
        FROM events WHERE value >= 200.0
    )
    SELECT w_id, w_type, count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN win w
      ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w_id, w_type
"""


@query("q53_range_join_windows", _Q53_ORACLE)
def q53_range_join_windows(spark, sf_dir):
    """Interval containment without an equi-key: events joined into the
    10-minute windows opened by high-value events, via the bucketed
    range_join (one shuffle each side on the derived bucket key)."""
    from .operators.rangejoin import range_join

    ev = _t(spark, sf_dir, "events")
    win = ev.filter(F.col("value") >= 200.0).select(
        F.col("event_id").alias("w_id"),
        F.col("event_type").alias("w_type"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    left = ev.select(F.col("ts").alias("e_ts"), F.col("user_id").alias("e_user"))
    joined = range_join(
        left, win, point="e_ts", start="w_start", end="w_end", bucket_width=600.0
    )
    return joined.groupBy("w_id", "w_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("e_user").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Table profiling (ANALYZE) — plans.stats
# ---------------------------------------------------------------------------

_Q54_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "other"),
    ("o_orderpriority", "str"),
]


def _q54_oracle():
    from .plans.stats import sql_profile

    return sql_profile("orders", _Q54_COLS)


@query("q54_profile_orders", _q54_oracle())
def q54_profile_orders(spark, sf_dir):
    """Exact per-column statistics of ``orders`` in one aggregation pass
    (counts, NDV via Expand + one shuffle, typed min/max) — the stats a
    cost-based planner feeds on; ``approx=True`` is the 100 TB mode."""
    from .plans.stats import profile

    return profile(_t(spark, sf_dir, "orders"), [c for c, _ in _Q54_COLS])


def _q59_oracle():
    from .plans.stats import sql_equi_width_histogram

    return sql_equi_width_histogram("orders", "o_totalprice", k=10)


@query("q59_histogram_totalprice", _q59_oracle())
def q59_histogram_totalprice(spark, sf_dir):
    """Equi-width histogram of order totals: 1-row min/max aggregate
    broadcast back over the scan + one bucket groupBy — the fully
    parallel histogram a stats job runs (equi-depth needs a sketch)."""
    from .plans.stats import equi_width_histogram

    return equi_width_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", k=10)


_PIVOT_SOURCES = [f"src{i}" for i in range(20)]

_Q60_WIDE = f"""
    SELECT lang,
           {", ".join(
               f"CAST(sum(CASE WHEN source = '{s}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS {s}"
               for s in _PIVOT_SOURCES
           )}
    FROM documents GROUP BY lang
"""

# r18 (q77 fold): the face output is the LONG form — the wide cross-tab
# melted back through UNPIVOT — so one relation attests both reshape
# directions. Zero cells survive the melt (they are 0, not NULL).
_Q60_ORACLE = f"""
    WITH wide AS ({_Q60_WIDE})
    SELECT lang, metric, value FROM wide
    UNPIVOT (value FOR metric IN ({", ".join(_PIVOT_SOURCES)}))
"""


def q60_bench_pivot(spark, sf_dir):
    """Bench body: the wide CASE-sum pivot ALONE (the pre-r18 q60 plan,
    kept separate so the headline series stays comparable)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        *[
            F.sum(F.when(F.col("source") == s, 1).otherwise(0)).alias(s)
            for s in _PIVOT_SOURCES
        ]
    )


@query("q60_pivot_lang_source", _Q60_ORACLE)
def q60_pivot_lang_source(spark, sf_dir):
    """Pivot: document counts as a lang x source cross-tab, written as
    explicit CASE-sums rather than ``.pivot()`` — the built-in plans TWO
    shuffles ((lang,source) pre-agg + pivotfirst), while static pivot
    values as conditional sums are ONE map-side-combined shuffle with a
    fixed schema. That rewrite is what pivot should compile to at scale.

    r18 fold of q77_unpivot_metrics (window-deadlock escape,
    registry.MERGED): the wide cross-tab is melted straight back to
    long form through ``DataFrame.unpivot`` — a single in-stage Expand
    node on the tiny post-aggregate relation, never on the fact table —
    so one driver row attests the pivot rewrite AND the wide-to-long
    reshape as exact inverses (the oracle UNPIVOTs the same wide
    restatement; a dropped zero cell or metric-name drift breaks the
    hash)."""
    wide = q60_bench_pivot(spark, sf_dir)
    return wide.unpivot(["lang"], _PIVOT_SOURCES, "metric", "value")


# q61_cube_flag_status: FOLDED into q66_grouping_sets (r18,
# window-deadlock escape — registry.MERGED): q66 now computes the FULL
# cube through both the DataFrame ``.cube()`` API (q61's surface) and
# the free-form GROUPING SETS SQL entry point, asserting identity.


_FUNNEL_STEPS = ["view", "click", "purchase"]


def _q62_oracle():
    from .operators.funnel import sql_funnel

    return sql_funnel(_FUNNEL_STEPS)


@query("q62_funnel_stages", _q62_oracle())
def q62_funnel_stages(spark, sf_dir):
    """Ordered funnel (view -> click -> purchase): dependent sequential
    min-aggregation chained per step, all keyed on user_id so one hash
    partitioning serves every join and groupBy in the chain."""
    from .operators.funnel import funnel

    return funnel(_t(spark, sf_dir, "events"), _FUNNEL_STEPS)


_Q63_ORACLE = """
    SELECT 'both' AS side, k AS n_nationkey FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
    )
    UNION ALL
    SELECT 'cust_only' AS side, k AS n_nationkey FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT
        SELECT s_nationkey AS k FROM supplier
    )
"""


@query("q63_intersect_except", _Q63_ORACLE)
def q63_intersect_except(spark, sf_dir):
    """INTERSECT / EXCEPT surface: nation keys having both customers and
    suppliers vs customer-only — Catalyst compiles both to semi/anti
    joins over distinct keys, so each is one dedup + one pruned join."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("n_nationkey")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("n_nationkey")
    )
    both = cust.intersect(supp).select(
        F.lit("both").alias("side"), "n_nationkey"
    )
    only = cust.subtract(supp).select(
        F.lit("cust_only").alias("side"), "n_nationkey"
    )
    return both.unionByName(only)


_Q64_ORACLE = """
    WITH span AS (
        SELECT user_id, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
        FROM events GROUP BY user_id
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
        FROM span
    ),
    obs AS (SELECT user_id, ts AS obs_ts, value FROM events)
    SELECT g.user_id, g.grid_ts, o.obs_ts, o.value
    FROM grid g ASOF JOIN obs o
      ON g.user_id = o.user_id AND o.obs_ts <= g.grid_ts
"""


@query("q64_resample_ffill", _Q64_ORACLE)
def q64_resample_ffill(spark, sf_dir):
    """Gap-filling resample: each user's events regularized onto a
    6-hour grid with the last observation carried forward — grid by
    sequence-explode (no shuffle), fill by the as-of join's single
    union + running-last shuffle. Oracle = DuckDB native ASOF JOIN."""
    from .operators.timeseries import resample_ffill

    return resample_ffill(_t(spark, sf_dir, "events"), "6 hours")


_HOUR_US = 3_600 * 1_000_000

_Q65_ORACLE = f"""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER w AS BIGINT) AS n_in_hour,
           round(CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) OVER w
                      AS DOUBLE)
                 / (count(*) OVER w * 1000.0), 4) AS avg_value
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN {_HOUR_US - 1} PRECEDING AND CURRENT ROW
    )
"""


@query("q65_trailing_hour_avg", _Q65_ORACLE)
def q65_trailing_hour_avg(spark, sf_dir):
    """Trailing 1-hour moving aggregate per user via a RANGE window frame
    over event-time microseconds — one shuffle on user_id; values go
    through per-row fixed-point int64 before the frame sum so the moving
    average is order-independent and engine-exact."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-(_HOUR_US - 1), 0)
    )
    scaled = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_in_hour"),
        F.round(
            F.sum(scaled).over(w).cast("double")
            / (F.count(F.lit(1)).over(w) * F.lit(1000.0)),
            4,
        ).alias("avg_value"),
    )


_Q66_ORACLE = """
    SELECT o_orderpriority, o_orderstatus,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


@query("q66_grouping_sets", _Q66_ORACLE)
def q66_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS via the engine's SQL entry point (the
    DataFrame API has rollup/cube but not free-form sets): all four
    grouping levels share one scan + one Expand + one shuffle instead
    of four scans and a union; integer-cent sums keep every level
    engine-exact.

    r18 fold of q61_cube_flag_status (window-deadlock escape,
    registry.MERGED): the free-form set list is the FULL cube, and the
    same relation is recomputed through the DataFrame ``.cube()`` API
    (q61's surface) with ``assert_df_identical`` refusing on any
    divergence — one driver row attests both grouping-set entry points
    against the oracle's GROUP BY CUBE."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_v")
    via_sql = spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               count(*) AS n_orders
        FROM orders_v
        GROUP BY GROUPING SETS (
            (o_orderpriority), (o_orderstatus),
            (o_orderpriority, o_orderstatus), ()
        )
        """
    )
    via_cube = orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    assert_df_identical(
        via_sql, via_cube, "q66: GROUPING SETS SQL vs DataFrame cube"
    )
    return via_sql


_Q68_ORACLE = """
    SELECT 'not_null:o_custkey' AS rule,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violations
    FROM orders
    UNION ALL
    SELECT 'predicate:positive_total',
           CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, false)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey', CAST(coalesce(sum(x), 0) AS BIGINT)
    FROM (SELECT count(*) - 1 AS x FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey', count(*)
    FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
"""


@query("q68_quality_audit", _Q68_ORACLE)
def q68_quality_audit(spark, sf_dir):
    """Declarative constraint audit of orders (not-null, row predicate,
    PK uniqueness, FK into customer) — CASE-sum rules share one scan;
    uniqueness is one keyed agg; the FK check is an anti-join whose
    parent side AQE broadcasts."""
    from .quality import audit

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return audit(
        orders,
        not_null=["o_custkey"],
        unique=[["o_orderkey"]],
        predicates={"positive_total": F.col("o_totalprice") > 0},
        foreign_keys=[(["o_custkey"], cust, ["c_custkey"])],
    )


_Q69_ORACLE = """
    WITH c AS (SELECT user_id, count(*) AS n_rows FROM events
               GROUP BY user_id),
    t AS (SELECT sum(n_rows) AS _t FROM c)
    SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,
           round(n_rows / _t, 6) AS share
    FROM c, t
    ORDER BY n_rows DESC, user_id LIMIT 10
"""


@query("q69_skew_report", _Q69_ORACLE)
def q69_skew_report(spark, sf_dir):
    """Join-key skew diagnostic: the 10 heaviest user_id values with
    their row share — the report that decides salting / AQE skew-join
    before a big join ships."""
    from .quality import skew_report

    return skew_report(_t(spark, sf_dir, "events"), ["user_id"], top=10)


_Q71_ORACLE = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_tol
    FROM events GROUP BY 1, 2
"""


@query("q71_distinct_sketch_rollup", _Q71_ORACLE)
def q71_distinct_sketch_rollup(spark, sf_dir):
    """Mergeable distinct-user sketches per (day, event_type) — the
    storable HLL state that answers any coarser rollup without
    re-touching the fact table (the COUNT(DISTINCT) scale pattern).
    Oracle face (same contract shape as q87/q92): each stored daily
    sketch's estimate must land within rel_tolerance() of the exact
    per-group distinct count, so the driver hash-verifies the finest
    grain of the sketch family; the binary sketch emission itself is
    pinned by tests/test_operators.py::
    test_hll_sketch_rollup_merge_and_accuracy."""
    from .operators import sketches

    ev = _t(spark, sf_dir, "events")
    grouped = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        "user_id",
    )
    daily = sketches.distinct_sketch_rollup(
        grouped, ["day", "event_type"], "user_id"
    )
    est = sketches.estimate(daily)
    exact = grouped.groupBy("day", "event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return exact.join(F.broadcast(est), ["day", "event_type"]).select(
        "day",
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("n_distinct") - F.col("exact_distinct"))
            <= sketches.rel_tolerance() * F.col("exact_distinct")
        ).alias("within_tol"),
    )


_Q87_ORACLE = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS within_tol,
           TRUE AS within_tol_merged
    FROM events GROUP BY event_type
"""


@query("q87_sketch_accuracy", _Q87_ORACLE)
def q87_sketch_accuracy(spark, sf_dir):
    """Oracle-checkable accuracy contract for the HLL sketch family —
    the driver-verifiable companion to q71's rows-only rollup. Daily
    (day, event_type) sketches are MERGED up to event_type grain
    (exercising hll_union_agg, the storable-state path) and the estimate
    must land within rel_tolerance() of the exact distinct count
    (4x the 1.04/sqrt(2^lg_k) standard error — margin for freshly
    regenerated data, see sketches.rel_tolerance). The oracle pins
    ``within_tol = TRUE`` per group: an out-of-tolerance estimate
    value-hash-mismatches instead of hiding behind a rows-only check.
    The exact side is one count_distinct shuffle; the estimate side is
    sketch-sized, and the final joins are per-event-type broadcasts.

    r18 fold of q92_sketch_merge_accuracy (the verdict-ordered sibling
    merge, registry.MERGED): ``within_tol_merged`` pins the OTHER
    storable-state path — the fact table split into two disjoint
    event_id-parity halves, each half sketched independently, the
    sketches union-merged group-wise via ``merge_rollups`` (the
    stored-state-update path the streaming sketch driver folds
    through). A merge bug that loses or double-counts registers flips
    the flag; a half-sketch would undercount badly."""
    from .operators import sketches

    ev = _t(spark, sf_dir, "events")
    daily = sketches.distinct_sketch_rollup(
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            "event_type",
            "user_id",
        ),
        ["day", "event_type"],
        "user_id",
    )
    est = sketches.estimate(sketches.rollup_to(daily, ["event_type"]))
    halves = [
        sketches.distinct_sketch_rollup(
            ev.filter(F.col("event_id") % 2 == i).select(
                "event_type", "user_id"
            ),
            ["event_type"],
            "user_id",
        )
        for i in (0, 1)
    ]
    est_merged = sketches.estimate(
        sketches.merge_rollups(halves[0], halves[1], ["event_type"])
    ).withColumnRenamed("n_distinct", "n_distinct_merged")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    tol = sketches.rel_tolerance()
    return (
        exact.join(F.broadcast(est), "event_type")
        .join(F.broadcast(est_merged), "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("n_distinct") - F.col("exact_distinct"))
                <= tol * F.col("exact_distinct")
            ).alias("within_tol"),
            (
                F.abs(F.col("n_distinct_merged") - F.col("exact_distinct"))
                <= tol * F.col("exact_distinct")
            ).alias("within_tol_merged"),
        )
    )


_Q74_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS valid_to
    FROM versions
"""

# q74's face output since the r18 q121 fold: the history annotated with
# the per-key version count and the current-row flag — the CURRENT-view
# slice (q121's relation) is the is_current rows of this output, so one
# driver row attests both read patterns. q124 (delta-apply equivalence)
# keeps the UNANNOTATED history oracle above.
_Q74_MERGED_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_type
    ),
    hist AS (
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to
        FROM versions
    )
    SELECT user_id, event_type, valid_from, valid_to,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_versions,
           valid_to IS NULL AS is_current
    FROM hist
"""


@query("q74_scd2_history", _Q74_MERGED_ORACLE)
def q74_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension build from the event stream: per user, one
    versioned row per event_type CHANGE (no-op repeats collapse) with
    half-open validity intervals — the history table point-in-time joins
    consume. Both windows share one user_id shuffle.

    r18 fold of q121_scd2_current_view (window-deadlock escape,
    registry.MERGED): the history ships annotated with ``n_versions``
    (the churn measure) and ``is_current`` (exactly one open interval
    per key) — q121's CURRENT-row slice is the ``is_current`` rows of
    this relation, so the annotation's count window reuses the
    history's user_id partitioning and one driver row attests both the
    build and the current-view read pattern. Still one shuffle
    end-to-end."""
    from .operators.scd import scd2_from_changes

    hist = scd2_from_changes(
        _t(spark, sf_dir, "events"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    w = Window.partitionBy("user_id")
    return hist.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        F.count(F.lit(1)).over(w).alias("n_versions"),
        F.col("valid_to").isNull().alias("is_current"),
    )


_Q75_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
        SELECT user_id, event_type AS state, ts AS valid_from FROM ordered
        WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_type
    ),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           v.state AS state_at_purchase, v.valid_from AS version_from
    FROM p ASOF JOIN versions v
      ON p.user_id = v.user_id AND v.valid_from <= p.ts
"""


@query("q75_scd2_point_in_time", _Q75_ORACLE)
def q75_scd2_point_in_time(spark, sf_dir):
    """Point-in-time dimension lookup: every purchase event joined to
    the SCD2 version valid at its timestamp — scd2_from_changes composed
    with the as-of join (at-or-before semantics), the read pattern the
    history table exists for."""
    from .operators.asof import asof_backward
    from .operators.scd import scd2_from_changes

    ev = _t(spark, sf_dir, "events")
    hist = scd2_from_changes(
        ev, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("valid_from").alias("version_from"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_backward(
        purchases,
        hist,
        on=["user_id"],
        left_ts="ts",
        right_ts="version_from",
        carry=["state", "version_from"],
        strict=False,
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("state").alias("state_at_purchase"),
        "version_from",
    )


_Q76_ORACLE = """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 7 < 5
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 7 > 0
    )
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
                ELSE n.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NULL THEN o.o_totalprice
                ELSE n.o_totalprice END AS o_totalprice
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
"""


def q76_bench_diff(spark, sf_dir):
    """Bench body: the in-memory snapshot diff ALONE (the pre-r18 q76
    plan; the registered face below routes the same snapshots through
    the on-disk versioned-commit protocol — q110's fold — whose write
    cost is benched by the q110_time_travel_diff sentinel)."""
    from .operators.diff import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 7 < 5)
    new = o.filter(F.col("o_orderkey") % 7 > 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


@query("q76_snapshot_diff", _Q76_ORACLE)
def q76_snapshot_diff(spark, sf_dir):
    """CDC generation from full snapshots: diff two orders snapshots into
    the I/U/D change-set apply_changes consumes — the integration path
    when the source system can't emit CDC and only hands over dumps.
    One full-outer PK join; unchanged rows dropped in-stage.

    r18 fold of q110_time_travel_diff (the verdict-ordered merge,
    registry.MERGED): the two snapshots now COMMIT as versions 1 and 2
    of a real on-disk versioned table (immutable ``_vNNNNN`` dirs +
    atomically-replaced pointer) and resolve back through
    ``read_version`` before diffing — genuine parquet round-trips, so
    every byte flows through the snapshot commit protocol and a
    pointer-flip or retention bug breaks the row hash. The oracle is
    unchanged: the protocol must be a no-op on WHAT the snapshots
    say."""
    import shutil

    from .operators.diff import snapshot_diff
    from .sources.warehouse import ParquetWarehouse

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 7 < 5)
    new = o.filter(F.col("o_orderkey") % 7 > 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    wh = ParquetWarehouse(_scratch_root("q76", sf_dir))
    # single-writer table, rebuilt per invocation for determinism
    shutil.rmtree(wh.path("orders_versioned"), ignore_errors=True)
    v1 = wh.overwrite_versioned(old, "orders_versioned", retain=2)
    v2 = wh.overwrite_versioned(new, "orders_versioned", retain=2)
    return snapshot_diff(
        wh.read_version(spark, "orders_versioned", v1),
        wh.read_version(spark, "orders_versioned", v2),
        ["o_orderkey"],
    )


# q77_unpivot_metrics: FOLDED into q60_pivot_lang_source (r18,
# window-deadlock escape — registry.MERGED): q60's face now melts its
# wide cross-tab back to long form through DataFrame.unpivot, attesting
# the reshape as the pivot's exact inverse in the same driver row.


_Q79_GAP_US = 3600 * 1_000_000  # 1-hour debounce window

_Q79_ORACLE = f"""
    WITH o AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM o
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) > {_Q79_GAP_US}
"""


@query("q79_event_debounce", _Q79_ORACLE)
def q79_event_debounce(spark, sf_dir):
    """Time-proximity event dedup: double-fired telemetry chains into
    bursts (each event within the gap of its predecessor), and only the
    first event of each burst survives — a row is a burst start iff its
    raw predecessor is more than the gap away, so no burst-id or second
    pass is needed. One window shuffle on (user, type); microsecond
    epoch arithmetic keeps both engines exact."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    prev_ts = F.lag("ts").over(w)
    is_start = prev_ts.isNull() | (
        F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > _Q79_GAP_US
    )
    return (
        ev.withColumn("_start", is_start)
        .filter(F.col("_start"))
        .select("event_id", "user_id", "event_type", "ts")
    )


_Q80_ORACLE = """
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag
"""


@query("q80_bloom_semi_join", _Q80_ORACLE)
def q80_bloom_semi_join(spark, sf_dir):
    """Urgent-order revenue via bloom-pruned semi join: the fact table is
    filtered by a constant-folded bloom predicate (k element_at probes,
    no exchange added) before the exact left_semi join, so only candidate
    rows reach the join shuffle — the explicit form of Spark's
    InjectRuntimeFilter, reusable ahead of aggregation-first plans."""
    from .operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        bloom_semi_join(li, urgent, ["l_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


_Q89_ORACLE = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    f AS (SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id),
    sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
           FROM f GROUP BY cohort_day),
    r AS (
        SELECT f.cohort_day, ud.day - f.cohort_day AS day_offset,
               CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users
        FROM ud JOIN f USING (user_id)
        GROUP BY f.cohort_day, day_offset
    )
    SELECT r.cohort_day, r.day_offset, r.n_users, sz.cohort_size,
           floor(r.n_users / sz.cohort_size * 1e4 + 0.5) / 1e4 AS retention
    FROM r JOIN sz USING (cohort_day)
"""


@query("q89_retention_cohorts", _Q89_ORACLE)
def q89_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix over the event stream: users grouped by
    first-seen day, distinct active users per (cohort, day-offset), and
    the retained share — the product-analytics rollup every events
    warehouse serves.

    Scale shape: the fact table is first collapsed to DISTINCT
    (user_id, day) — bounded by users x days, far smaller than raw
    events, and the only fact-sized shuffle. Cohort assignment is a
    per-user min; the (cohort, offset) aggregation and the cohort-size
    join both run on user-sized or matrix-sized relations (AQE
    broadcasts the per-cohort sizes). Share is fixed-pointed to 1e-4 on
    both engines."""
    ev = _t(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = user_day.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    sz = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    r = (
        user_day.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    return r.join(sz, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        "cohort_size",
        (
            F.floor(
                F.col("n_users") / F.col("cohort_size") * 1e4 + F.lit(0.5)
            )
            / 1e4
        ).alias("retention"),
    )


_Q90_ORACLE = """
    WITH t AS (
        SELECT event_type, value, event_id,
               ntile(10) OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS decile
        FROM events
    )
    SELECT event_type, decile, CAST(count(*) AS BIGINT) AS n,
           min(value) AS min_v, max(value) AS max_v
    FROM t GROUP BY event_type, decile
"""


@query("q90_value_deciles", _Q90_ORACLE)
def q90_value_deciles(spark, sf_dir):
    """Per-event-type decile summary of the value distribution (ntile
    bucketing with a deterministic event_id tiebreak, then per-decile
    count/min/max) — the banded-distribution report that feeds outlier
    thresholds and monitoring dashboards.

    The ntile window is the honest cost: one shuffle per event_type
    partition, each sorted in a task — acceptable because event_type
    cardinality is tiny and per-type volume bounded; for a heavy-tailed
    partition column the q84 compressed-distribution calibration is the
    scale path, and this query exists for the exact-bucket semantics
    (equal-count bands, not equal-value bands)."""
    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        "event_type",
        "value",
        F.ntile(10)
        .over(
            Window.partitionBy("event_type").orderBy("value", "event_id")
        )
        .alias("decile"),
    )
    return t.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


_Q91_ORACLE = """
    WITH p AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(path, 'view>click>purchase'))
                AS BIGINT) AS n_triples
    FROM p
"""


@query("q91_event_path_patterns", _Q91_ORACLE)
def q91_event_path_patterns(spark, sf_dir):
    """Sequential pattern mining over per-user event paths: each user's
    events collapse (ordered by ts with an event_id tiebreak) into one
    path string, and the engine counts non-overlapping occurrences of
    the adjacent view>click>purchase triple — the MATCH_RECOGNIZE-style
    behavioral query funnels (q62) can't express (funnels are
    first-occurrence, this is every-occurrence on adjacency).

    One shuffle on user_id; per-user state is bounded by that user's
    event count (the sessionize/SCD bound, not corpus-sized). The path
    assembles via sort_array over (ts, event_id, type) structs, so the
    order is total and identical to the oracle's ORDER BY."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("_path"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.regexp_count(F.col("_path"), F.lit("view>click>purchase"))
            .cast("long")
            .alias("n_triples"),
        )
    )


# q92_sketch_merge_accuracy: FOLDED into q87_sketch_accuracy (r18, the
# verdict-ordered sketch-pair merge — registry.MERGED): q87's
# ``within_tol_merged`` column now pins the parity-half merge_rollups
# path this face held.


_Q93_ORACLE = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
    cover AS (
        SELECT user_id,
               CAST(unnest(generate_series(
                   CAST(day AS TIMESTAMP),
                   CAST(day + 6 AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS DATE) AS day
        FROM ud
    ),
    wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM cover GROUP BY day),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
            FROM ud GROUP BY day)
    SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
           floor(coalesce(d.dau, 0) / w.wau * 1e4 + 0.5) / 1e4
               AS stickiness
    FROM wau w LEFT JOIN dau d USING (day), bounds b
    WHERE w.day <= b.hi
"""


@query("q93_rolling_active_users", _Q93_ORACLE)
def q93_rolling_active_users(spark, sf_dir):
    """DAU / rolling-7-day WAU / stickiness per day — the engagement
    rollup that naively needs a sliding self-join per day. Instead each
    DISTINCT (user, day) activity row is exploded into the 7 trailing
    report days it covers (a bounded 7x fan-out of the user-day
    relation, NOT the fact table) and one distinct aggregation per day
    finishes the job — the scale-safe shape for any trailing-window
    distinct count. Days past the data's max are trimmed on both
    engines; leading days (first week) naturally report partial
    windows, same as the oracle.

    Shape (r19): DAU folds into the SAME day aggregation as WAU — a
    (user, day) activity row covers report day ``day`` at offset 0
    exactly when it IS that day's activity, so ``count(aday = day)``
    over the exploded cover relation equals the old per-day distinct
    count, and the max-day trim bound attaches as an unbounded window
    max over the day-cardinality result (dau > 0 marks real activity
    days). The old composition referenced the distinct user-day
    relation three times (cover, dau, hi) and re-executed its
    fact-table distinct per reference — one pass over events now."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("aday")).distinct()
    cover = ud.select(
        "user_id",
        "aday",
        F.explode(
            F.sequence(F.col("aday"), F.date_add(F.col("aday"), 6))
        ).alias("day"),
    )
    agg = cover.groupBy("day").agg(
        F.count_distinct("user_id").alias("wau"),
        F.count(
            F.when(F.col("aday") == F.col("day"), F.lit(1))
        ).alias("dau"),
    )
    whole = W.partitionBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        agg.withColumn(
            "_hi",
            F.max(F.when(F.col("dau") > 0, F.col("day"))).over(whole),
        )
        .filter(F.col("day") <= F.col("_hi"))
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            "wau",
            (
                F.floor(F.col("dau") / F.col("wau") * 1e4 + F.lit(0.5))
                / 1e4
            ).alias("stickiness"),
        )
    )


_Q94_ORACLE = """
    WITH base AS (
        SELECT event_type,
               CAST(ts AS DATE) - (SELECT min(CAST(ts AS DATE)) FROM events)
                   AS x,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(x AS BIGINT) * y) AS BIGINT) AS sxy
        FROM base GROUP BY event_type
    )
    SELECT event_type, n,
           floor(CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                      AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                        AS DOUBLE)
                 / 1e4 * 1e6 + 0.5) / 1e6 AS slope_per_day,
           floor(CAST(CAST(sy AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sxy
                      AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                        AS DOUBLE)
                 / 1e4 * 1e4 + 0.5) / 1e4 AS intercept
    FROM s
"""


@query("q94_value_trend_regression", _Q94_ORACLE)
def q94_value_trend_regression(spark, sf_dir):
    """Per-dimension least-squares trend of event value over time (drift
    monitoring: is this metric creeping up?). Ordinary double sums of
    x*y across a shuffle are order-dependent in their last bits, so the
    inputs are integerized first — x = days since the corpus's first day
    (small), y = value at 1e-4 resolution — making every partial sum
    EXACT in int64; the closed-form slope/intercept combine those exact
    sums in wider integer arithmetic (decimal / HUGEINT) and convert to
    double once, so both engines round identically. One shuffle for the
    per-group sums; the global min-day is a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.to_date("ts")).alias("_lo"))
    base = ev.join(F.broadcast(lo)).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.col("_lo")).cast("long").alias("x"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("y"),
    )
    s = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = (d("n") * d("sxx") - d("sx") * d("sx")).cast("double")
    slope = (d("n") * d("sxy") - d("sx") * d("sy")).cast("double") / den
    intercept = (d("sy") * d("sxx") - d("sx") * d("sxy")).cast(
        "double"
    ) / den
    return s.select(
        "event_type",
        "n",
        (F.floor(slope / 1e4 * 1e6 + F.lit(0.5)) / 1e6).alias(
            "slope_per_day"
        ),
        (F.floor(intercept / 1e4 * 1e4 + F.lit(0.5)) / 1e4).alias(
            "intercept"
        ),
    )


_Q96_ORACLE = """
    WITH y AS (
        SELECT event_id, event_type, value,
               CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS yi
        FROM events
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(yi) AS BIGINT) AS sy,
               CAST(sum(CAST(yi AS HUGEINT) * yi) AS HUGEINT) AS syy
        FROM y GROUP BY event_type
    )
    SELECT y.event_id, y.event_type, y.value
    FROM y JOIN s USING (event_type)
    WHERE (CAST(s.n AS HUGEINT) * y.yi - s.sy)
          * (CAST(s.n AS HUGEINT) * y.yi - s.sy)
          > 9 * (CAST(s.n AS HUGEINT) * s.syy
                 - CAST(s.sy AS HUGEINT) * s.sy)
"""


@query("q96_value_outliers", _Q96_ORACLE)
def q96_value_outliers(spark, sf_dir):
    """|z| > 3 outlier detection per dimension with ZERO floating-point
    comparisons: values integerize to 1e-4 resolution and the z-score
    test rearranges to (n*y - Sy)^2 > 9*(n*Syy - Sy^2) — pure wide-
    integer (decimal / HUGEINT) arithmetic, so the flagged set is
    bit-identical across engines and scales (a double-based z-score
    flips rows at the threshold between runs). One shuffle for the
    per-dimension moments (a handful of rows, broadcast back); the fact
    scan is touched once."""
    ev = _t(spark, sf_dir, "events")
    y = ev.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("yi"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = y.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yi").alias("sy"),
        F.sum(d("yi") * d("yi")).alias("syy"),
    )
    dev = d("n") * d("yi") - d("sy")
    rhs = F.lit(9) * (d("n") * F.col("syy") - d("sy") * d("sy"))
    return (
        y.join(F.broadcast(s), "event_type")
        .filter(dev * dev > rhs)
        .select("event_id", "event_type", "value")
    )


_Q97_ORACLE = """
    WITH w AS (
        SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(sum(CAST(floor(value * 1e4 + 0.5) AS BIGINT))
                    AS BIGINT) AS sv
        FROM events GROUP BY event_type, week
    )
    SELECT event_type, week, sv / 1e4 AS sum_value,
           CASE WHEN prev IS NULL THEN NULL
                ELSE floor(CAST(sv - prev AS DOUBLE) / prev * 1e4 + 0.5)
                     / 1e4
           END AS wow_pct
    FROM (SELECT *, lag(sv) OVER (
              PARTITION BY event_type ORDER BY week) AS prev
          FROM w)
"""


@query("q97_weekly_value_wow", _Q97_ORACLE)
def q97_weekly_value_wow(spark, sf_dir):
    """Week-over-week change of the value total per dimension — the
    reporting query behind every growth dashboard. Weekly totals sum
    EXACT 1e-4-integerized values (order-independent), so the lag and
    the percent change divide identical integers on both engines; the
    window runs over the tiny (dimension, week) relation, never the
    facts. First week per dimension reports NULL change."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            "event_type",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
            ).alias("sv")
        )
    )
    prev = F.lag("sv").over(
        W.partitionBy("event_type").orderBy("week")
    )
    return w.select(
        "event_type",
        "week",
        (F.col("sv") / 1e4).alias("sum_value"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.floor(
                (F.col("sv") - prev).cast("double") / prev * 1e4 + F.lit(0.5)
            )
            / 1e4
        )
        .alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# Mergeable quantile state (histogram sketch) — accuracy contract
# ---------------------------------------------------------------------------

# r19 fold (q112_kll_quantile_accuracy -> q99, registry.MERGED): ONE
# face carries both quantile-sketch accuracy contracts as a tagged
# union — 'hist' rows pin the fixed-range histogram family (stat =
# the exact rank-based p95 the estimate must bracket), 'kll' rows pin
# the bounds-free KLL family (stat = the sketch-conserved non-null
# count). Both operator kernels still run in full; bench keeps the two
# historical series via the single-path bodies below.
_Q99_ORACLE = """
    WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT 'hist' AS sketch, event_type,
           CAST(value AS DOUBLE) AS stat, TRUE AS within_tol
    FROM ranked
    WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
    UNION ALL
    SELECT 'kll' AS sketch, event_type,
           CAST(count(value) AS DOUBLE) AS stat, TRUE AS within_tol
    FROM events GROUP BY event_type
"""


def q99_bench_hist(spark, sf_dir):
    """Accuracy contract for the histogram-sketch quantile family (the
    percentile analogue of q87/q92's HLL contracts): per-event_type
    p95 reconstructed from MERGED equi-width histogram state — the fact
    table split into halves by event_id parity, each half sketched
    independently, states merged bin-wise — must land within one bin
    width ABOVE the exact rank-based p95 (the reconstruction returns
    the covering bin's upper edge, so 0 < estimate - exact <= step by
    construction; a merge bug that loses or double-counts bins breaks
    the cumulative rank and flips within_tol). exact_p95 is a RAW data
    value picked by a deterministic rank rule, restated identically in
    the oracle — no float interpolation to drift between engines. The
    exact side is one window per group; the sketch side never exceeds
    (groups x n_bins) rows."""
    from .operators import sketches

    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    ).collect()[0]  # bounded: 1 row of scalars
    lo, hi, n_bins = float(b["_lo"]), float(b["_hi"]) + 1.0, 256
    step = (hi - lo) / n_bins

    halves = [
        sketches.histogram_sketch(
            ev.filter(F.col("event_id") % 2 == i),
            ["event_type"],
            "value",
            lo,
            hi,
            n_bins,
        )
        for i in (0, 1)
    ]
    merged = sketches.merge_histograms(halves[0], halves[1], ["event_type"])
    est = sketches.histogram_percentile(
        merged, ["event_type"], 0.95, lo, hi, n_bins
    )

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    n = Window.partitionBy("event_type")
    exact = (
        ev.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(n))
        .filter(F.col("_rn") == F.ceil(F.lit(0.95) * F.col("_n")))
        .select("event_type", F.col("value").alias("exact_p95"))
    )
    diff = F.col("estimate") - F.col("exact_p95")
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "exact_p95",
        ((diff > 0) & (diff <= F.lit(step) + F.lit(1e-9))).alias("within_tol"),
    )


@query("q99_quantile_sketch_accuracy", _Q99_ORACLE)
def q99_quantile_sketch_accuracy(spark, sf_dir):
    """Both quantile-sketch accuracy contracts in one face (r19 fold —
    absorbs q112_kll_quantile_accuracy, registry.MERGED): the 'hist'
    section is the fixed-range equi-width histogram contract (merged
    halves' p95 within one bin width above the exact rank-based p95),
    the 'kll' section the bounds-free KLL contract (estimate's true
    rank span, padded by the sketch's err certificate, contains the
    target rank; ``stat`` = the sketch-conserved non-null count, so the
    hash also pins weight conservation through compaction and merge).
    Each section runs its family's full build-split-merge-query kernel
    (q99_bench_hist / q112_bench_kll above and below)."""
    hist = q99_bench_hist(spark, sf_dir).select(
        F.lit("hist").alias("sketch"),
        "event_type",
        F.col("exact_p95").cast("double").alias("stat"),
        "within_tol",
    )
    kll_rows = q112_bench_kll(spark, sf_dir).select(
        F.lit("kll").alias("sketch"),
        "event_type",
        F.col("n").cast("double").alias("stat"),
        "within_tol",
    )
    return hist.unionByName(kll_rows)


_Q109_ORACLE = """
    SELECT s.s_nationkey,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
"""


@query("q109_salted_join_revenue", _Q109_ORACLE)
def q109_salted_join_revenue(spark, sf_dir):
    """The salted skew join's oracle face: revenue per supplier nation
    through operators.skewjoin.salted_join instead of a plain equi-join.
    The contract is ROW PARITY — salting must not lose, duplicate, or
    misroute a single (lineitem, supplier) match, so the post-join
    aggregate hash-matches the unsalted SQL restatement exactly. The
    ``join_hint="merge"`` pin keeps the small-scale plan the same
    sort-merge shape the operator exists for at 100 TB (where one hot
    supplier key would otherwise serialize the stage and the dimension
    is too large to broadcast); plan pinned in
    tests/test_plans.py::test_q109_salted_join_plan."""
    from .operators.skewjoin import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, sup, ["l_suppkey"], salt=8, join_hint="merge")
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


# q110_time_travel_diff: FOLDED into q76_snapshot_diff (r18, the
# verdict-ordered merge — registry.MERGED): q76's snapshots now flow
# through the versioned-commit protocol, so its single driver row
# attests both the diff operator and time travel. The bench body below
# keeps the q110 headline series comparable (its own %9/%11 fixture).


def q110_bench_time_travel(spark, sf_dir):
    """Bench body: the pre-r18 q110 plan — two versioned on-disk
    commits, read_version round-trips, snapshot_diff."""
    import shutil

    from .operators.diff import snapshot_diff
    from .sources.warehouse import ParquetWarehouse

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 9 < 6)
    new = o.filter(F.col("o_orderkey") % 9 > 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 50
        ).otherwise(F.col("o_totalprice")),
    )
    wh = ParquetWarehouse(_scratch_root("q110", sf_dir))
    # single-writer table, rebuilt per invocation for determinism
    shutil.rmtree(wh.path("orders_versioned"), ignore_errors=True)
    v1 = wh.overwrite_versioned(old, "orders_versioned", retain=2)
    v2 = wh.overwrite_versioned(new, "orders_versioned", retain=2)
    return snapshot_diff(
        wh.read_version(spark, "orders_versioned", v1),
        wh.read_version(spark, "orders_versioned", v2),
        ["o_orderkey"],
    )


# r19 fold: q112_kll_quantile_accuracy retired into
# q99_quantile_sketch_accuracy (registry.MERGED) — its full KLL
# build-split-merge-query contract runs as the absorber's 'kll'
# section; this single-path body keeps the bench series comparable.


def q112_bench_kll(spark, sf_dir):
    """Accuracy contract for the bounds-free KLL quantile sketch (the
    unknown-domain complement of q99's fixed-range histogram): p95 per
    event_type pulled from sketches built INDEPENDENTLY on the two
    event_id-parity halves and merged — the estimate's true rank span
    (count strictly below, count at-or-below), padded by the sketch's
    own tracked err_bound certificate, must contain ceil(0.95 * n).
    ``n`` comes from the SKETCH, not the fact table, so the hash match
    against count(value) (non-null count — the sketch drops NULL/NaN)
    also proves exact weight conservation through every compaction and
    merge. A compaction bug (lost tail item,
    double charge, wrong offset) breaks n or flips within_tol."""
    from .operators import kll

    ev = _t(spark, sf_dir, "events")
    halves = [
        kll.kll_sketch(
            ev.filter(F.col("event_id") % 2 == i), ["event_type"], "value"
        )
        for i in (0, 1)
    ]
    merged = kll.kll_merge(halves[0].unionByName(halves[1]), ["event_type"])
    est = kll.kll_quantile(merged, 0.95)
    target = F.ceil(F.lit(0.95) * F.col("n")).cast("long")
    spans = (
        ev.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "n", "estimate", "tol")
        .agg(
            F.sum((F.col("value") < F.col("estimate")).cast("long")).alias(
                "lt_rank"
            ),
            F.sum((F.col("value") <= F.col("estimate")).cast("long")).alias(
                "le_rank"
            ),
        )
    )
    return spans.select(
        "event_type",
        "n",
        (
            (F.col("lt_rank") < target + F.col("tol"))
            & (F.col("le_rank") >= target - F.col("tol"))
        ).alias("within_tol"),
    )


_Q113_ORACLE = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderkey % 10 = 0 AND o_totalprice > 50000
    GROUP BY o_orderpriority
"""


@query("q113_jdbc_roundtrip", _Q113_ORACLE)
def q113_jdbc_roundtrip(spark, sf_dir):
    """The JDBC source's oracle face (SURVEY S15, previously pytest-only):
    a real RDBMS round trip through the Derby embedded database that
    ships in Spark's jars — an orders subset lands in Derby via Spark's
    JDBC WRITER (mode=overwrite drops/recreates, the TRUNCATE+COPY
    idempotency), comes back through ``read_jdbc`` as a PARTITIONED
    4-shard range read with the value filter pushed into the remote SQL
    (pushDownPredicate), and aggregates per priority. Hash-matching the
    parquet-side restatement proves the full write -> partitioned read ->
    pushdown path loses and mangles nothing. Derby in-memory is
    driver-JVM-local, which works on local[*] where executors share the
    JVM; against a real cluster the same call shape points at a network
    RDBMS URL (tests/test_jdbc.py covers the source in isolation)."""
    from .sources.jdbc import read_jdbc

    url = "jdbc:derby:memory:graftq113;create=true"
    subset = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    (
        subset.coalesce(1)  # single writer connection into embedded Derby
        .write.mode("overwrite")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_rt")
        .save()
    )
    hi = subset.agg(F.max("o_orderkey")).collect()[0][0]  # 1-row scalar
    back = read_jdbc(
        spark,
        url=url,
        table="orders_rt",
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=int(hi) + 1,
        num_partitions=4,
    )
    return (
        back.filter(F.col("o_totalprice") > 50000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_Q114_ORACLE = """
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey NOT IN (
        (SELECT min(o_orderkey) FROM orders),
        (SELECT max(o_orderkey) FROM orders)
    )
    GROUP BY c.c_mktsegment
"""


def _q114_write_orders(spark, sf_dir, wh, bloom: bool) -> str:
    """Land orders hash-bucketed on o_custkey (8 buckets, sorted);
    optionally with a bloom manifest on o_orderkey — a column the
    bucket layout does NOT cluster. Returns the table tag."""
    import re as _re

    tag = _re.sub(
        r"[^A-Za-z0-9_]", "_", os.path.basename(os.path.normpath(sf_dir))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    kw = {"bloom_cols": ["o_orderkey"]} if bloom else {}
    wh.write_bucketed(
        orders, f"orders_bkt_{tag}", ["o_custkey"], 8,
        sort_by=["o_custkey"], **kw,
    )
    return tag


def _q114_write_customer(spark, sf_dir, wh, tag: str) -> None:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    wh.write_bucketed(
        cust, f"customer_bkt_{tag}", ["c_custkey"], 8, sort_by=["c_custkey"]
    )


def _q114_gdpr(spark, sf_dir, wh, tag: str) -> None:
    """Two-key GDPR delete (min/max orderkey) materialized through the
    bloom manifest's file cover. Guards pin the discovery at FILE grain
    (fewer files rewritten than the table holds) and the bucket layout
    surviving the rewrite."""
    orders = _t(spark, sf_dir, "orders")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    n_files = len(wh.bloom(f"orders_bkt_{tag}")["files"])
    wh.delete_keys(spark, f"orders_bkt_{tag}", "o_orderkey", [lo, hi])
    res = wh.materialize_deletes(spark, f"orders_bkt_{tag}")
    if not 0 < res["files_replaced"] < n_files:
        raise AssertionError(
            "non-bucket-key erasure must be bloom-FILE-grain, not a "
            f"whole-table rewrite: {res} over {n_files} files"
        )
    if wh.bucket_spec(f"orders_bkt_{tag}") is None:
        raise AssertionError("materialization dropped the bucket layout")


def _q114_join(spark, wh, tag: str):
    o = wh.read_bucketed(spark, f"orders_bkt_{tag}")
    c = wh.read_bucketed(spark, f"customer_bkt_{tag}")
    joined = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def q114_bench_join(spark, sf_dir):
    """Bench sentinel: the co-located bucketed join ALONE — bucketed
    write + catalog read-back + zero-exchange merge join, nothing else.
    The r16 fixture fold buried this signal under ~4 s of bloom-manifest
    build + GDPR materialize (r16 verdict, What's wrong #2); bench.py
    times this and q114g_bench_gdpr separately so a join-plan
    regression can't hide inside erasure noise. Matches the pre-r16
    q114 bench face, keeping the cross-round series comparable."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q114j", sf_dir))
    tag = _q114_write_orders(spark, sf_dir, wh, bloom=False)
    _q114_write_customer(spark, sf_dir, wh, tag)
    return _q114_join(spark, wh, tag)


def q114g_bench_gdpr(spark, sf_dir):
    """Bench sentinel: the r16 erasure fold alone — bloom-manifest
    bucketed write + two-key FILE-grain GDPR materialize, returning the
    erased orders table for the bench hash-reduce. Tracks the bloom
    discovery + rewrite path's cost separately from the join."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q114g", sf_dir))
    tag = _q114_write_orders(spark, sf_dir, wh, bloom=True)
    _q114_gdpr(spark, sf_dir, wh, tag)
    return wh.read_bucketed(spark, f"orders_bkt_{tag}")


@query("q114_bucketed_join_revenue", _Q114_ORACLE)
def q114_bucketed_join_revenue(spark, sf_dir):
    """The co-located bucketed join's oracle face (SURVEY S16's layout
    story, previously pytest-only): orders and customer land in the
    warehouse hash-bucketed on their join keys (same bucket count,
    sorted within buckets), are read back THROUGH the catalog, and join
    with ZERO exchange on either side — at 100 TB this is the layout
    that turns the recurring fact-dim join from a double shuffle into a
    direct bucket-file merge. The only exchange in the whole plan is
    the final segment aggregation (pinned in
    tests/test_plans.py::test_q114_bucketed_join_plan); the hash match
    against the plain-join restatement proves the bucketed layout and
    catalog round-trip lose nothing.

    r16 fixture extension (the verdict's fold-into-faces pattern): the
    orders side carries a BLOOM manifest on o_orderkey and a two-key
    GDPR delete (min/max orderkey) materializes through the manifest's
    file cover before the join (_q114_gdpr's guards). The oracle
    subtracts the same two keys, so the hash match proves bloom-pruned
    erasure changes WHAT the table says exactly as much as the full
    scan would. r17: bench.py times the two halves separately
    (q114_bench_join / q114g_bench_gdpr); this face composes them for
    the driver's correctness row."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q114", sf_dir))
    tag = _q114_write_orders(spark, sf_dir, wh, bloom=True)
    _q114_write_customer(spark, sf_dir, wh, tag)
    _q114_gdpr(spark, sf_dir, wh, tag)
    return _q114_join(spark, wh, tag)


_Q117_ORACLE = """
    WITH listing AS (
        SELECT 'lake' AS stage,
               'dms/sch' || CAST(user_id % 3 AS VARCHAR) || '/tbl' || CAST(user_id % 5 AS VARCHAR) ||
               CASE WHEN event_id % 3 = 0
                    THEN '/LOAD000000' || lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || '.csv'
                    ELSE '/2024010' || CAST(event_id % 10 AS VARCHAR) || '-' ||
                         lpad(CAST(event_id AS VARCHAR), 9, '0') || '.csv'
               END AS file
        FROM events
    ),
    dms AS (
        SELECT DISTINCT
               'dms/sch' || CAST(user_id % 3 AS VARCHAR) || '/tbl' || CAST(user_id % 5 AS VARCHAR) AS full_path,
               'LAKE' AS stage,
               CASE WHEN user_id % 2 = 0 THEN '0' ELSE '20240109-999999999' END AS last_incremental_file
        FROM events
    ),
    cdc AS (
        SELECT stage,
               regexp_replace(file, '/(LOAD[0-9]{8}|2[0-9]{7}-[0-9]{9})..*$', '') AS file_prefix,
               regexp_extract(file, '([^/]+)$', 1) AS basename
        FROM listing
        WHERE NOT regexp_matches(file, '.*/LOAD.*\\..*$')
    )
    SELECT dms.full_path,
           count(*) AS pending_files,
           max(c.basename) AS newest_pending
    FROM dms JOIN cdc c
      ON dms.full_path = c.file_prefix AND upper(dms.stage) = upper(c.stage)
    WHERE c.basename > dms.last_incremental_file
    GROUP BY dms.full_path
"""


@query("q117_cdc_backlog", _Q117_ORACLE)
def q117_cdc_backlog(spark, sf_dir):
    """Operational backlog report over the reference's planner relations
    (the monitoring twin of q17's load-type decision, ref :113-148): per
    table, how many CDC files are NEWER than the stored watermark and
    what the newest pending file is — 'how far behind is each table',
    the number an operator watches while the queue drains. Same
    synthesized listing/metadata fixture as q17; the join is a broadcast
    of the table-count-sized metadata relation against the file listing,
    filtered by the lexicographic watermark comparison the whole
    incremental design rests on (SURVEY F11)."""
    from .planner import FILE_SUFFIX_RX, LOAD_FILE_RX

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id")
    fname = F.concat(
        F.lit("dms/sch"),
        (F.col("user_id") % 3).cast("string"),
        F.lit("/tbl"),
        (F.col("user_id") % 5).cast("string"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("/LOAD000000"),
                F.lpad((F.col("event_id") % 100).cast("string"), 2, "0"),
                F.lit(".csv"),
            ),
        ).otherwise(
            F.concat(
                F.lit("/2024010"),
                (F.col("event_id") % 10).cast("string"),
                F.lit("-"),
                F.lpad(F.col("event_id").cast("string"), 9, "0"),
                F.lit(".csv"),
            )
        ),
    )
    listing = ev.select(F.lit("lake").alias("stage"), fname.alias("file"))
    dms = ev.select(
        F.concat(
            F.lit("dms/sch"),
            (F.col("user_id") % 3).cast("string"),
            F.lit("/tbl"),
            (F.col("user_id") % 5).cast("string"),
        ).alias("full_path"),
        F.lit("LAKE").alias("dms_stage"),
        F.when(F.col("user_id") % 2 == 0, F.lit("0"))
        .otherwise(F.lit("20240109-999999999"))
        .alias("last_incremental_file"),
    ).distinct()
    cdc = listing.filter(~F.col("file").rlike(LOAD_FILE_RX)).select(
        "stage",
        F.regexp_replace(F.col("file"), FILE_SUFFIX_RX, "").alias("file_prefix"),
        F.regexp_extract(F.col("file"), r"([^/]+)$", 1).alias("basename"),
    )
    return (
        F.broadcast(dms)
        .join(
            cdc,
            (F.col("full_path") == F.col("file_prefix"))
            & (F.upper(F.col("dms_stage")) == F.upper(F.col("stage"))),
        )
        .filter(F.col("basename") > F.col("last_incremental_file"))
        .groupBy("full_path")
        .agg(
            F.count(F.lit(1)).alias("pending_files"),
            F.max("basename").alias("newest_pending"),
        )
    )


_Q119_ORACLE = """
    WITH el AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
    ),
    per AS (
        SELECT 'events' AS table_name,
               CAST(count(*) AS BIGINT) AS rows_before,
               CAST(sum(CASE WHEN user_id IN (SELECT user_id FROM el)
                             THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
        FROM events
        UNION ALL
        SELECT 'customer',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN c_custkey IN (SELECT user_id FROM el)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer
        UNION ALL
        SELECT 'orders',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN o_custkey IN (SELECT user_id FROM el)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
    )
    SELECT table_name, rows_before, rows_erased,
           rows_before - rows_erased AS rows_after
    FROM per
"""


@query("q119_user_erasure_audit", _Q119_ORACLE)
def q119_user_erasure_audit(spark, sf_dir):
    """Right-to-be-forgotten at corpus scale: an erasure LIST (distinct
    subject ids from deletion requests — here derived deterministically
    as user_id % 37 = 0) applied across every table that carries the
    subject key, with the audit report compliance actually requires
    (rows before / erased / after per table). Scale shape: the erasure
    list broadcasts (request sets are small); each table takes ONE scan
    with a left semi-flag join + conditional count — no table is read
    twice, nothing re-shuffles on the fact side. The actual deletion is
    the same anti-join composed with warehouse.overwrite (or
    replace_partitions for hive-partitioned targets); this face
    hash-verifies the counts that prove the erasure complete."""
    ev = _t(spark, sf_dir, "events")
    erase = (
        ev.select("user_id").filter(F.col("user_id") % 37 == 0).distinct()
        .withColumn("_erase", F.lit(1))
    )

    def audit(name, df, key):
        flagged = df.select(F.col(key).alias("user_id")).join(
            F.broadcast(erase), "user_id", "left"
        )
        return flagged.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("rows_before"),
            F.sum(F.coalesce(F.col("_erase"), F.lit(0)))
            .cast("long")
            .alias("rows_erased"),
        )

    per = (
        audit("events", ev, "user_id")
        .unionByName(audit("customer", _t(spark, sf_dir, "customer"), "c_custkey"))
        .unionByName(audit("orders", _t(spark, sf_dir, "orders"), "o_custkey"))
    )
    return per.select(
        "table_name",
        "rows_before",
        "rows_erased",
        (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
    )


_Q123_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(0 AS BIGINT) AS remaining
    FROM events WHERE user_id % 37 <> 0
    GROUP BY event_type
"""


@query("q123_erasure_execution", _Q123_ORACLE)
def q123_erasure_execution(spark, sf_dir):
    """The erasure EXECUTION path q119 only audits: a real on-disk
    warehouse table (events partitioned by ``pbucket = user_id % 8`` —
    the stable coarse key an erasure-friendly 100 TB layout partitions
    by) walks through ``erase_subjects`` — broadcast semi-join finds
    the touched partitions, the anti-joined remainder rewrites ONLY
    those via the tombstoned dynamic overwrite — and the result is
    read BACK FROM DISK. The returned relation is the post-erasure
    per-event_type profile plus ``remaining`` = the re-audit count of
    subject rows still present (a 1-row scalar attach), which the
    oracle pins to 0: a rewrite that misses a partition, resurrects a
    tombstoned directory, or drops survivor rows breaks the hash.
    Every byte flows through the partition-scoped delete protocol, not
    an in-memory filter."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    wh = ParquetWarehouse(_scratch_root("q123", sf_dir))
    shutil.rmtree(wh.path("events_gdpr"), ignore_errors=True)
    wh.overwrite(
        ev.withColumn("pbucket", (F.col("user_id") % 8).cast("int")),
        "events_gdpr",
        partition_by=["pbucket"],
    )
    subjects = (
        ev.select("user_id").filter(F.col("user_id") % 37 == 0).distinct()
    )
    wh.erase_subjects(
        spark, "events_gdpr", "user_id", subjects, partition_by=["pbucket"]
    )
    back = wh.read(spark, "events_gdpr")
    remaining = (
        back.join(F.broadcast(subjects), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("remaining"))
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .crossJoin(remaining)  # 1-row scalar attach (bounded)
    )


_Q124_ORACLE = _Q74_ORACLE  # delta-applied history == full-rebuild history


@query("q124_scd2_delta_apply", _Q124_ORACLE)
def q124_scd2_delta_apply(spark, sf_dir):
    """INCREMENTAL SCD2 maintenance (the dimension twin of q49's rollup
    maintenance): q74/q121 rebuild history from the full change stream;
    this face builds history from the first 80 % of the time range,
    then folds the remaining 20 % in as a CDC batch with
    ``scd2_apply_delta`` — closing open intervals and appending new
    versions WITHOUT rescanning the stream (the history never
    shuffles; the window compression sees batch-sized input). The
    oracle is the FULL-STREAM rebuild (q74's SQL verbatim): a
    hash-match is the equivalence proof delta maintenance owes. The
    cutoff is data-derived (min + 0.8 * range, a 1-row scalar
    collect), so any testdata re-generation keeps a non-trivial batch
    on both sides of the split."""
    from .operators.scd import scd2_apply_delta, scd2_from_changes

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]  # 1-row scalar
    cutoff = lo + (hi - lo) * 0.8
    hist = scd2_from_changes(
        ev.filter(F.col("ts") <= F.lit(cutoff)),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    return scd2_apply_delta(
        hist,
        ev.filter(F.col("ts") > F.lit(cutoff)),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


_Q125_ORACLE = """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 3 <> 0 AND c.c_custkey % 2 = 0
    GROUP BY c.c_mktsegment
"""


@query("q125_group_commit_join", _Q125_ORACLE)
def q125_group_commit_join(spark, sf_dir):
    """Cross-table CONSISTENT time travel (the q110 story one level up):
    two group commits publish different (orders, customer) state pairs
    through ``commit_group`` — every member a real on-disk versioned
    snapshot, one atomically-flipped group pointer — and the face joins
    the members resolved AT COMMIT 1 via ``read_group``. The oracle
    restates commit 1's filters only: if either member leaked commit-2
    state (a torn multi-table read — the failure group commit exists to
    prevent), the join's counts and revenue break the hash."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    root = _scratch_root("q125", sf_dir)
    shutil.rmtree(root, ignore_errors=True)  # deterministic per invocation
    wh = ParquetWarehouse(root)
    wh.commit_group(
        {
            "go_orders": o.filter(F.col("o_orderkey") % 3 != 0),
            "go_customer": c.filter(F.col("c_custkey") % 2 == 0),
        },
        "core",
    )
    wh.commit_group(
        {
            "go_orders": o.filter(F.col("o_orderkey") % 3 != 1),
            "go_customer": c.filter(F.col("c_custkey") % 2 == 1),
        },
        "core",
    )
    snap = wh.read_group(spark, "core", commit=1)
    return (
        snap["go_orders"]
        .join(
            snap["go_customer"],
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# q121_scd2_current_view: FOLDED into q74_scd2_history (r18, the
# verdict-ordered SCD2 pair merge — registry.MERGED): the current-row
# slice is the ``is_current`` rows of q74's annotated history output.
# The bench body below keeps the q121 headline series comparable
# (the q114 sentinel-split precedent).


def q121_bench_current_view(spark, sf_dir):
    """Bench body: the pre-r18 q121 plan — CURRENT-row slice joined
    with per-key version counts off the SCD2 history."""
    from .operators.scd import scd2_from_changes

    hist = scd2_from_changes(
        _t(spark, sf_dir, "events"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )
    counts = hist.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions")
    )
    return (
        hist.filter(F.col("valid_to").isNull())
        .select(
            "user_id",
            F.col("event_type").alias("current_state"),
            F.col("valid_from").alias("current_since"),
        )
        .join(counts, "user_id")
    )


# r18: the three foreign stage formats (ORC / XML / Avro) fold into ONE
# registered face, q126_stage_format_roundtrips (window-deadlock escape,
# registry.MERGED) — each format keeps its full original fixture as a
# bench body below, so the q126/q127 headline series stay comparable.


def q126_bench_orc(spark, sf_dir):
    """The ORC stage format fixture (ref metadata file_format :26;
    COPY INTO accepts ORC :291): the full supplier table lands in a
    scratch stage as MULTI-FILE ORC under foreign source column names,
    comes back through ``read_stage_orc``'s positional cast with the
    file-metadata virtual columns materialized, and aggregates per
    nation. An ``assert_true`` guard proves the split-safe
    (file_block_start, mono-id) rownum is a dense per-file sequence —
    distinct (file, rownum) pairs must equal total rows — without
    widening the oracle; the hash match against the parquet-side
    restatement proves the ORC write -> positional read loses nothing
    (types, NULLs, doubles)."""
    import glob as _g
    import shutil

    sup = _t(spark, sf_dir, "supplier")
    schema = sup.schema
    root = _scratch_root("q126", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, "stage")
    # foreign names -> only the POSITIONAL contract can restore them
    sup.select(
        [F.col(c).alias(f"SRC_COL_{i}") for i, c in enumerate(sup.columns)]
    ).repartition(4).write.format("orc").save(stage)

    from .sources.orc_stage import read_stage_orc

    files = sorted(_g.glob(os.path.join(stage, "part-*")))
    back = read_stage_orc(spark, files, schema, with_file_metadata=True)
    # The guard must FEED a projected column or Catalyst prunes it (and
    # the whole rownum window with it): assert_true is NULL on success,
    # so the coalesce term adds 0 to n_suppliers while forcing the
    # distinct-(file, rownum) count to actually evaluate.
    guard = F.coalesce(
        F.assert_true(
            F.col("__pairs") == F.col("n_suppliers"),
            F.lit("per-file rownum not a dense unique sequence"),
        ).cast("long"),
        F.lit(0),
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            F.count_distinct(F.struct("_dms_filename", "_dms_rownum")).alias(
                "__pairs"
            ),
        )
        .select(
            "s_nationkey",
            (F.col("n_suppliers") + guard).alias("n_suppliers"),
            "total_bal",
        )
    )


def q127_bench_xml(spark, sf_dir):
    """The XML stage format fixture (ref metadata file_format :26;
    COPY INTO accepts XML :291): a customer subset lands in a scratch
    stage as XML through Spark's native writer, comes back through
    ``read_stage_xml``'s NAMED schema-driven parse (XML has no file
    column order — see sources/xml_stage.py), and aggregates per market
    segment. The hash match against the parquet-side restatement proves
    the text round trip loses nothing: Java shortest-repr double
    formatting parses back to the identical bits, longs and strings
    survive, and the named resolution binds every field."""
    import glob as _g
    import shutil

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    schema = cust.schema
    root = _scratch_root("q127", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, "stage")
    cust.repartition(2).write.option("rowTag", "row").format("xml").save(
        stage
    )

    from .sources.xml_stage import read_stage_xml

    files = sorted(_g.glob(os.path.join(stage, "part-*")))
    back = read_stage_xml(spark, files, schema)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


_Q128_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice BETWEEN 100000 AND 150000
    GROUP BY o_orderpriority
"""


@query("q128_zonemap_prune", _Q128_ORACLE)
def q128_zonemap_prune(spark, sf_dir):
    """Manifest-level data skipping (the read-side complement of the
    warehouse's cluster_by layout; BASELINE north star "file-pruned
    reads"): orders lands range-clustered on o_totalprice with a
    per-file min/max zone map committed atomically with the data
    (``overwrite(stat_cols=...)``), and the face range-reads through
    ``read_zoned`` — files whose band misses [lo, hi] are dropped at
    PLANNING time, before any footer is opened. A driver-side guard
    fails the face if the scan planned over the full file set (pruning
    silently broken), and the hash match against the plain restatement
    proves pruning never drops a matching row."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    lo, hi = 100000.0, 150000.0
    root = _scratch_root("q128", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    wh.overwrite(
        orders,
        "orders_z",
        cluster_by=["o_totalprice"],
        cluster_partitions=16,
        stat_cols=["o_totalprice"],
    )
    out = wh.read_zoned(spark, "orders_z", "o_totalprice", lo=lo, hi=hi)
    n_total = len(wh.zonemap("orders_z")["files"])
    n_planned = len(out.inputFiles())
    if not 0 < n_planned < n_total:
        raise AssertionError(
            f"zone map did not prune: planned {n_planned}/{n_total} files"
        )
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_Q129_ORACLE = """
    WITH merged AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 21 = 0
                    THEN o_totalprice + 1000 ELSE o_totalprice
               END AS price
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(price), 2) AS revenue
    FROM merged
    WHERE price BETWEEN 50000 AND 200000
    GROUP BY o_orderpriority
"""


@query("q129_declared_layout_pipeline", _Q129_ORACLE)
def q129_declared_layout_pipeline(spark, sf_dir):
    """The DECLARED-LAYOUT pipeline end-to-end (TableMeta.layout(), ref
    variant column :34): an orders subset lands in a scratch stage as
    headerless positional CSV, is REGISTERED with a declared
    cluster_by + stat_cols layout, full-loads through the real pipeline
    API, takes a CDC batch (U ops bumping every 3rd row's price) through
    incremental_load — whose full-rewrite merge must RE-APPLY the
    declared clustering and rebuild the zone map — and is finally read
    through read_zoned, whose guard fails if the post-merge map stopped
    pruning. The oracle restates the merged state arithmetically; a
    hash match proves load -> merge -> layout -> pruned read end-to-end
    loses nothing."""
    import glob as _g
    import json as _json
    import shutil

    from .cdc import incremental_load
    from .full_load import full_load
    from .metadata import MetadataStore, TableMeta
    from .sources.warehouse import ParquetWarehouse

    root = _scratch_root("q129", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, "stage")
    tdir = os.path.join(stage, "erp", "orders")

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    subset = orders.filter(F.col("o_orderkey") % 7 == 0)

    def _land(df, prefix, width=8):
        tmp = os.path.join(root, f"csv_{prefix}")
        df.coalesce(2).write.option("header", "false").csv(tmp)
        os.makedirs(tdir, exist_ok=True)
        for i, p in enumerate(sorted(_g.glob(os.path.join(tmp, "part-*")))):
            os.replace(
                p, os.path.join(tdir, f"{prefix}{i:0{width}d}.csv")
            )
        shutil.rmtree(tmp, ignore_errors=True)

    _land(subset, "LOAD")
    cdc = subset.filter(F.col("o_orderkey") % 21 == 0).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    )
    _land(cdc, "20240101-")

    store = MetadataStore(os.path.join(root, "meta.json"))
    store.register(
        TableMeta(
            full_path="erp/orders",
            db_schema="erp",
            db_table="orders",
            stage=stage,
            primary_keys=["o_orderkey"],
            additional_config=_json.dumps(
                {
                    "layout": {
                        "cluster_by": ["o_totalprice"],
                        "cluster_partitions": 8,
                        "stat_cols": ["o_totalprice"],
                    }
                }
            ),
        )
    )
    wh = ParquetWarehouse(os.path.join(root, "wh"))
    full_load(spark, store, wh, "erp/orders", schema=subset.schema)
    msg = incremental_load(spark, store, wh, "erp/orders")
    if not msg.startswith("Rows affected"):
        raise AssertionError(f"CDC merge did not run: {msg}")

    lo, hi = 50000.0, 200000.0
    out = wh.read_zoned(spark, "erp_orders", "o_totalprice", lo=lo, hi=hi)
    n_total = len(wh.zonemap("erp_orders")["files"])
    n_planned = len(out.inputFiles())
    if not 0 < n_planned < n_total:
        raise AssertionError(
            f"post-merge zone map did not prune: {n_planned}/{n_total}"
        )
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_Q130_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE user_id BETWEEN 2 AND 6 AND value BETWEEN 20 AND 120
    GROUP BY event_type
"""


@query("q130_zorder_multicol_prune", _Q130_ORACLE)
def q130_zorder_multicol_prune(spark, sf_dir):
    """Multi-column data skipping end-to-end (the zorder_by layout's
    oracle face): events lands Z-ORDERED on (user_id, value) with both
    columns in the zone map, and the face reads a CONJUNCTIVE range
    through ``read_zoned(ranges=...)`` — a file survives only if BOTH
    bands overlap, which the interleaved-bit layout makes selective on
    every listed column (lexicographic clustering would localize only
    the leading one). Guards pin that the conjunction planned a strict
    subset of the files AND no more than the user_id band alone. The
    value sum is per-term fixed-point (exact integer cents) so the hash
    is immune to float summation order across engines."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    root = _scratch_root("q130", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wh.overwrite(
        ev,
        "events_z",
        zorder_by=["user_id", "value"],
        cluster_partitions=16,
        stat_cols=["user_id", "value"],
    )
    ranges = {"user_id": (2, 6), "value": (20.0, 120.0)}
    out = wh.read_zoned(spark, "events_z", ranges=ranges)
    n_total = len(wh.zonemap("events_z")["files"])
    n_both = len(out.inputFiles())
    n_user = len(
        wh.read_zoned(spark, "events_z", "user_id", 2, 6).inputFiles()
    )
    if not 0 < n_both < n_total:
        raise AssertionError(
            f"conjunctive zone map did not prune: {n_both}/{n_total}"
        )
    if n_both > n_user:
        raise AssertionError(
            f"conjunction ({n_both}) planned MORE files than one of its "
            f"conjuncts ({n_user})"
        )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).cast("long").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Zone-map-scoped CDC merge (S11 + S16 composed; ref :369-408, where the
# reference's MERGE relies on Snowflake's micro-partition pruning)
# ---------------------------------------------------------------------------

_Q131_ORACLE = """
    WITH bounds AS MATERIALIZED (
        SELECT max(c_custkey) * 2 / 5 AS lo,
               max(c_custkey) * 9 / 20 AS hi
        FROM customer
    ),
    changes AS MATERIALIZED (
        SELECT CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
               o_custkey AS c_custkey,
               'zchg-' || CAST(o_orderkey AS VARCHAR) AS c_name,
               CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
               o_totalprice + 1000 AS c_acctbal,
               o_orderpriority AS c_mktsegment,
               o_orderdate AS _file,
               o_orderkey AS _rownum
        FROM orders, bounds
        WHERE o_custkey BETWEEN bounds.lo AND bounds.hi
    ),
    deduped AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _file DESC, _rownum DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
                ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t
    FULL OUTER JOIN deduped s ON t.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL OR s.op <> 'D'
"""


@query("q131_zone_merge_prune", _Q131_ORACLE)
def q131_zone_merge_prune(spark, sf_dir):
    """The ZONE-MAP-SCOPED CDC merge end-to-end (cdc.merge_and_write's
    file-pruned path; ref :369-408 — the micro-partition-scoped rewrite
    the reference delegates to Snowflake): customer lands range-
    clustered on its PK with a zone map, a q18-style change batch
    restricted to a NARROW key band (2/5..9/20 of the keyspace) merges
    through the automatic zone pruner, and the face returns the
    final on-disk table state — hash-matched against a pure-SQL
    restatement of the same merge over the raw inputs, proving file
    pruning changes nothing but the I/O. Driver-side guards fail the
    face if the merge stopped being sub-linear: at least one target
    file must survive byte-identical (same inode — carried as a hard
    link, never read or rewritten), the merge must write fewer rows
    than the table holds, and the committed state must still carry a
    zone map (steady-state: the NEXT merge prunes too)."""
    import shutil

    from .cdc import merge_and_write
    from .sources.warehouse import ParquetWarehouse

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    lo, hi = maxk * 2 / 5, maxk * 9 / 20

    root = _scratch_root("q131", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(
        cust,
        "customer_z",
        cluster_by=["c_custkey"],
        cluster_partitions=16,
        stat_cols=["c_custkey"],
    )

    orders = _t(spark, sf_dir, "orders")
    changes = orders.filter(
        F.col("o_custkey").between(F.lit(lo), F.lit(hi))
    ).select(
        F.when(F.col("o_orderkey") % 10 < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("zchg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def inodes():
        return {
            n: os.stat(os.path.join(root, "customer_z", n)).st_ino
            for n in os.listdir(os.path.join(root, "customer_z"))
            if n.endswith(".parquet")
        }

    before = inodes()
    n_rows = cust.count()
    n = merge_and_write(
        wh,
        "customer_z",
        wh.read(spark, "customer_z"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    after = inodes()
    carried = [r for r in before if r in after and after[r] == before[r]]
    if not carried:
        raise AssertionError(
            "zone-scoped merge carried no file: pruning is broken "
            f"(batch band [{lo}, {hi}], {len(before)} files before)"
        )
    if not n < n_rows:
        raise AssertionError(
            f"zone-scoped merge wrote {n} rows for a {n_rows}-row table: "
            "rewrite is not sub-linear"
        )
    if wh.zonemap("customer_z") is None:
        raise AssertionError("merge dropped the zone map: next merge won't prune")
    # r16 fold-into-faces guard: the committed state must answer
    # count(*) from the manifest ALONE (metadata_stats — zero data I/O)
    # and agree with the scan the face returns; a drifting manifest
    # would silently mis-prune the NEXT merge, so attest it here where
    # the driver hash-checks the surrounding state every window.
    ms = wh.metadata_stats("customer_z")
    n_actual = wh.read(spark, "customer_z").count()
    if ms is None or ms["rows"] != n_actual:
        raise AssertionError(
            f"metadata_stats disagrees with the committed state: "
            f"{ms} vs {n_actual} rows"
        )
    return wh.read(spark, "customer_z")


# ---------------------------------------------------------------------------
# Whole-cycle group snapshot consistency (S16 + run_queue group=...;
# ref :163-203 task DAG, which commits each table's MERGE independently)
# ---------------------------------------------------------------------------

_Q133_ORACLE = """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    + CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS combined_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 3 = 0
    GROUP BY c_mktsegment
"""


@query("q133_group_cycle_consistency", _Q133_ORACLE)
def q133_group_cycle_consistency(spark, sf_dir):
    """Whole-cycle snapshot isolation end-to-end — the cross-table
    guarantee the reference's task DAG cannot give (each Snowflake
    MERGE commits independently, ref :163-203, so a mid-cycle reader
    joins one table's new state against another's old): customer and a
    filtered orders land as cycle 1 and publish through
    ``commit_group_linked`` (hard links, zero data I/O); then BOTH
    working tables are rewritten — simulating the next cycle in
    flight — and the face joins the tables resolved from
    ``read_group``. The hash match against the CYCLE-1 restatement
    proves the snapshot kept both members at the committed boundary:
    had customer leaked its in-flight state every sum shifts by the
    +100 bump, had orders leaked the order-key filter flips. A driver
    guard additionally pins that the LIVE tables really moved (all
    snapshot order keys are %3==0, all live ones %3==1), so the face
    cannot silently pass by reading the working dirs."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    root = _scratch_root("q133", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    wh.overwrite(cust, "gc_customer")
    wh.overwrite(orders.filter(F.col("o_orderkey") % 3 == 0), "gc_orders")
    wh.commit_group_linked(["gc_customer", "gc_orders"], "cycle")
    # the next cycle's loads land in the working tables (uncommitted to
    # the group): every balance bumps, the order slice flips
    wh.overwrite(
        cust.withColumn("c_acctbal", F.col("c_acctbal") + 100),
        "gc_customer",
    )
    wh.overwrite(orders.filter(F.col("o_orderkey") % 3 == 1), "gc_orders")
    snap = wh.read_group(spark, "cycle")
    if snap["gc_orders"].filter(F.col("o_orderkey") % 3 != 0).count() != 0:
        raise AssertionError("snapshot leaked in-flight orders state")
    if (
        wh.read(spark, "gc_orders")
        .filter(F.col("o_orderkey") % 3 != 1)
        .count()
        != 0
    ):
        raise AssertionError(
            "working table did not move: the isolation guard is vacuous"
        )
    return (
        snap["gc_orders"]
        .join(
            snap["gc_customer"],
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                + F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
            ).alias("combined_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming whole-epoch group snapshots (S16 + §2.9; the streaming
# analogue of q133 — ref :163-203's task DAG commits each table's MERGE
# independently, so even its steady-state sync can hand a reader one
# table's new state joined against another's old)
# ---------------------------------------------------------------------------

_Q135_ORACLE = """
    WITH cust AS (
        SELECT c_custkey, c_mktsegment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
               + CASE WHEN c_custkey % 5 = 0 THEN 777 ELSE 0 END AS bal_cents
        FROM customer
    ),
    ord AS (
        SELECT o_orderkey, o_custkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders
        WHERE (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)
           OR o_orderkey % 3 = 1
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(price_cents + bal_cents) AS BIGINT) AS sum_cents
    FROM ord JOIN cust ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


@query("q135_stream_group_cycle", _Q135_ORACLE)
def q135_stream_group_cycle(spark, sf_dir):
    """Streaming CDC with whole-EPOCH group snapshots end-to-end
    (``start_cdc_group_stream``): two tables' CDC landing dirs are
    co-streamed through ONE unioned file source, so Structured
    Streaming's checkpoint assigns both tables' files to the same
    micro-batch epoch, every epoch merges each member and publishes one
    ``commit_group_linked`` snapshot (ref :163-203 — the reference's
    task DAG commits each table's MERGE independently and cannot give
    this boundary). Fixture: gs_cust full-loads the EVEN customers and
    gs_ord the %3==0 orders (cents as BIGINT so the CSV round trip is
    exact); epoch 1 inserts the odd customers and deletes the %9==0
    orders; epoch 2 bumps %5==0 customers' balances by 777 and inserts
    the %3==1 orders. maxFilesPerTrigger=1 forces the two epochs. The
    returned join/agg reads ``read_group`` (never the working dirs) and
    hash-matches the final-state SQL restatement; driver guards pin the
    EPOCH boundary via the retained previous commit: it must hold the
    odd-customer inserts (epoch 1 applied) but neither epoch 2's order
    inserts nor its balance bumps — a group that flipped per TABLE
    instead of per epoch fails the guard, and a stream that never took
    the mid-stream snapshot has no commit 1 to resolve."""
    import shutil

    from .sources.warehouse import ParquetWarehouse
    from .streaming.cdc_stream import start_cdc_group_stream

    root = _scratch_root("q135", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(os.path.join(root, "wh"))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    wh.overwrite(cust.filter(F.col("c_custkey") % 2 == 0), "gs_cust")
    wh.overwrite(orders.filter(F.col("o_orderkey") % 3 == 0), "gs_ord")

    def land(df, subdir, fname):
        """Write one CDC CSV per epoch through the distributed writer
        (single-file only at fixture scale), then promote it under the
        DMS timestamp naming the stream's glob matches."""
        staged = os.path.join(root, f"stage_{subdir}_{fname}")
        df.coalesce(1).write.mode("overwrite").option(
            "emptyValue", ""
        ).csv(staged)
        part = next(
            n for n in os.listdir(staged) if n.startswith("part-")
        )
        dest_dir = os.path.join(root, subdir)
        os.makedirs(dest_dir, exist_ok=True)
        os.replace(
            os.path.join(staged, part), os.path.join(dest_dir, fname)
        )
        shutil.rmtree(staged, ignore_errors=True)

    # epoch 1: insert the odd customers; delete the %9==0 orders
    land(
        cust.filter(F.col("c_custkey") % 2 == 1).select(
            F.lit("I").alias("op"), "*"
        ),
        "cust_landing",
        "20240101-000000001.csv",
    )
    land(
        orders.filter(F.col("o_orderkey") % 9 == 0).select(
            F.lit("D").alias("op"), "*"
        ),
        "ord_landing",
        "20240101-000000001.csv",
    )
    # epoch 2: bump %5==0 balances by 777; insert the %3==1 orders
    land(
        cust.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("bal_cents", F.col("bal_cents") + 777)
        .select(F.lit("U").alias("op"), "*"),
        "cust_landing",
        "20240102-000000001.csv",
    )
    land(
        orders.filter(F.col("o_orderkey") % 3 == 1).select(
            F.lit("I").alias("op"), "*"
        ),
        "ord_landing",
        "20240102-000000001.csv",
    )
    q = start_cdc_group_stream(
        spark,
        {
            "gs_cust": {
                "landing_glob": os.path.join(root, "cust_landing", "2*.csv"),
                "pks": ["c_custkey"],
            },
            "gs_ord": {
                "landing_glob": os.path.join(root, "ord_landing", "2*.csv"),
                "pks": ["o_orderkey"],
            },
        },
        wh,
        group="cycle",
        checkpoint_dir=os.path.join(root, "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    state = wh._load_group("cycle")
    if state["current"] < 2:
        raise AssertionError(
            f"expected one group commit per epoch, got {state['current']}"
        )
    # epoch-boundary guard on the retained PREVIOUS commit
    prev = wh.read_group(spark, "cycle", commit=state["current"] - 1)
    if prev["gs_cust"].filter(F.col("c_custkey") % 2 == 1).count() == 0:
        raise AssertionError("commit 1 is missing epoch 1's inserts")
    if prev["gs_ord"].filter(F.col("o_orderkey") % 3 == 1).count() != 0:
        raise AssertionError("commit 1 leaked epoch 2's order inserts")
    bumped = (
        prev["gs_cust"]
        .join(
            cust.filter(F.col("c_custkey") % 5 == 0).select(
                "c_custkey", F.col("bal_cents").alias("base_cents")
            ),
            "c_custkey",
        )
        .filter(F.col("bal_cents") != F.col("base_cents"))
        .count()
    )
    if bumped != 0:
        raise AssertionError("commit 1 leaked epoch 2's balance bumps")
    snap = wh.read_group(spark, "cycle")
    return (
        snap["gs_ord"]
        .join(snap["gs_cust"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("price_cents") + F.col("bal_cents")).alias(
                "sum_cents"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-manifest point-lookup file skipping (S16 storage layout; the
# complement of q128's zone-map range pruning — ref :369-408 delegates
# the same skipping to Snowflake's micro-partition metadata, which
# keeps bloom-like secondary indexes for exactly this unclustered-key
# case via its search optimization service)
# ---------------------------------------------------------------------------

_Q136_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderkey % 7 = 3
        ORDER BY o_orderkey
        LIMIT 10
    )
"""


@query("q136_bloom_point_lookup", _Q136_ORACLE)
def q136_bloom_point_lookup(spark, sf_dir):
    """Point lookups on a column the write layout does NOT cluster:
    orders land hash-scattered on o_custkey (so every file's
    o_orderkey [min,max] band spans the keyspace and a zone map would
    prune nothing), a per-file Bloom manifest is built on o_orderkey,
    and the face probes 10 deterministic keys through
    ``read_bloom_keys``. Driver guards pin that the manifest really
    pruned (hit < total files) and that the no-false-negative guarantee
    held (every probe key's row came back — the oracle hash then pins
    the exact values). This is the GDPR-erasure pruning shape: subject
    keys are random, not clustered, and the same manifest bounds an
    erase's rewrite to the files that can contain them."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    root = _scratch_root("q136", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    wh.overwrite(orders.repartition(16, "o_custkey"), "ord_scatter")
    wh.write_bloom(spark, "ord_scatter", ["o_orderkey"])
    keys = [
        r.o_orderkey
        for r in orders.filter(F.col("o_orderkey") % 7 == 3)
        .orderBy("o_orderkey")
        .limit(10)
        .collect()
    ]
    hit, miss = wh.bloom_hit_split(spark, "ord_scatter", "o_orderkey", keys)
    if not miss:
        raise AssertionError(
            "bloom manifest pruned nothing: the guard is vacuous"
        )
    out = wh.read_bloom_keys(spark, "ord_scatter", "o_orderkey", keys)
    if out.count() != len(keys):
        raise AssertionError(
            "bloom-pruned read dropped probe keys (false negative)"
        )
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Hybrid partition+file CDC merge (S11 refinement; ref :369-408 — the
# reference's partition scoping composed with micro-partition pruning,
# both of which it delegates to Snowflake)
# ---------------------------------------------------------------------------

_Q137_ORACLE = """
    WITH bounds AS MATERIALIZED (
        SELECT max(c_custkey) * 2 / 5 AS lo,
               max(c_custkey) * 9 / 20 AS hi,
               max(c_custkey) + 1 AS mx1
        FROM customer
    ),
    changes AS MATERIALIZED (
        SELECT CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
               o_custkey AS c_custkey,
               'hchg-' || CAST(o_orderkey AS VARCHAR) AS c_name,
               o_totalprice + 1000 AS c_acctbal,
               o_orderdate AS _file,
               o_orderkey AS _rownum
        FROM orders, bounds
        WHERE o_custkey BETWEEN bounds.lo AND bounds.hi
    ),
    deduped AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _file DESC, _rownum DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CAST(floor(coalesce(s.c_custkey, t.c_custkey) * 4.0
                      / bounds.mx1) AS INTEGER) AS part
    FROM customer t
    FULL OUTER JOIN deduped s ON t.c_custkey = s.c_custkey
    CROSS JOIN bounds
    WHERE s.c_custkey IS NULL OR s.op <> 'D'
"""


@query("q137_hybrid_merge_prune", _Q137_ORACLE)
def q137_hybrid_merge_prune(spark, sf_dir):
    """The HYBRID partition+file CDC merge end-to-end
    (the zone pruner over the touched partitions' files,
    cdc._zone_files; ref :369-408 — partition scoping composed
    with micro-partition pruning, both delegated to Snowflake by the
    reference): customer lands hive-partitioned on a pk-derived quarter
    bucket AND range-clustered on the pk within partitions, with a zone
    map; a change batch confined to a narrow key band (2/5..9/20 — all
    inside partition 1) merges through the automatic hybrid path. The
    returned final table state hash-matches a pure-SQL restatement.
    Driver guards pin the TWO pruning levels: every file of every
    untouched partition must carry its inode (partition pruning), at
    least one file INSIDE the touched partition must carry too (file
    pruning — the partition-scoped path would rewrite all of them), at
    least one file was actually replaced, the rewrite wrote fewer rows
    than the table holds, the zone map survives (steady state), and no
    tombstone marker was needed (the atomic assembly retires emptied
    partitions without one)."""
    import shutil

    from .cdc import merge_and_write
    from .sources.warehouse import ParquetWarehouse

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    lo, hi = maxk * 2 / 5, maxk * 9 / 20
    part = F.floor(F.col("c_custkey") * 4.0 / F.lit(maxk + 1)).cast("int")

    root = _scratch_root("q137", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(
        cust.withColumn("part", part),
        "customer_h",
        partition_by=["part"],
        cluster_by=["c_custkey"],
        cluster_partitions=16,
        stat_cols=["c_custkey"],
    )

    orders = _t(spark, sf_dir, "orders")
    changes = orders.filter(
        F.col("o_custkey").between(F.lit(lo), F.lit(hi))
    ).select(
        F.when(F.col("o_orderkey") % 10 < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("hchg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.floor(F.col("o_custkey") * 4.0 / F.lit(maxk + 1))
        .cast("int")
        .alias("part"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def inodes():
        out = {}
        base = os.path.join(root, "customer_h")
        for dirpath, _dirs, files in os.walk(base):
            for n in files:
                if n.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, n), base)
                    out[rel] = os.stat(os.path.join(dirpath, n)).st_ino
        return out

    before = inodes()
    n_rows = cust.count()
    n = merge_and_write(
        wh,
        "customer_h",
        wh.read(spark, "customer_h"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
        partition_by=["part"],
    )
    after = inodes()
    for rel, ino in before.items():
        if not rel.startswith("part=1/") and after.get(rel) != ino:
            raise AssertionError(
                f"untouched-partition file {rel} was rewritten: partition "
                "pruning is broken"
            )
    carried_inside = [
        rel
        for rel in before
        if rel.startswith("part=1/") and after.get(rel) == before[rel]
    ]
    if not carried_inside:
        raise AssertionError(
            "no file inside the touched partition carried: the hybrid "
            "degenerated to the whole-partition rewrite"
        )
    if not any(rel.startswith("part=1/") and rel not in after for rel in before):
        raise AssertionError("no file was replaced: the merge was a no-op")
    if not n < n_rows:
        raise AssertionError(
            f"hybrid merge wrote {n} rows for a {n_rows}-row table"
        )
    if wh.zonemap("customer_h") is None:
        raise AssertionError("merge dropped the zone map: next merge won't prune")
    if os.path.isfile(os.path.join(root, "customer_h", "_tombstones.json")):
        raise AssertionError("hybrid path should not need tombstones")
    return wh.read(spark, "customer_h")


# ---------------------------------------------------------------------------
# Bloom-pruned FILE-grain GDPR erasure on a hive-partitioned table
# (S16 + the q119/q123 erasure family; ref :369-408 — Snowflake's
# search-optimization point lookups composed with partition pruning)
# ---------------------------------------------------------------------------

_Q139_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderkey % 4 AS INTEGER) AS part
    FROM orders
    WHERE o_custkey NOT IN (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_custkey % 11 = 5
        ORDER BY o_custkey
        LIMIT 3
    )
"""


@query("q139_bloom_partitioned_erase", _Q139_ORACLE)
def q139_bloom_partitioned_erase(spark, sf_dir):
    """Right-to-be-forgotten on a hive-partitioned table whose subject
    key is NOT the partition key (the realistic shape: partitioned on a
    pk-derived bucket, erased by customer id): without the bloom
    manifest the erase rewrites every TOUCHED PARTITION entirely; with
    it the rewrite narrows to the files that can contain a subject —
    rel paths address partition dirs directly, so no hive value
    rendering is involved, and emptied partitions retire atomically.
    Driver guards pin the file grain: the bloom split must actually
    prune (miss non-empty), every miss file — including miss files
    INSIDE partitions that hold subject rows — keeps its inode, every
    hit file is gone, the subjects' rows are gone, and the maintained
    manifest still describes the exact committed file set (the NEXT
    erase prunes too). The returned final state hash-matches the
    anti-join restatement."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    root = _scratch_root("q139", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.col("o_orderkey") % 4).cast("int").alias("part"),
    )
    wh.overwrite(
        orders.repartition(4, "o_custkey"), "ord_p", partition_by=["part"]
    )
    wh.write_bloom(spark, "ord_p", ["o_custkey"])
    subjects = [
        r.o_custkey
        for r in orders.filter(F.col("o_custkey") % 11 == 5)
        .select("o_custkey")
        .distinct()
        .orderBy("o_custkey")
        .limit(3)
        .collect()
    ]
    hit, miss = wh.bloom_hit_split(spark, "ord_p", "o_custkey", subjects)
    if not miss:
        raise AssertionError("bloom pruned nothing: the guard is vacuous")

    def inodes():
        out = {}
        base = wh.path("ord_p")
        for dirpath, _dirs, files in os.walk(base):
            for n in files:
                if n.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, n), base)
                    out[rel] = os.stat(os.path.join(dirpath, n)).st_ino
        return out

    before = inodes()
    res = wh.erase_subjects(
        spark,
        "ord_p",
        "o_custkey",
        spark.createDataFrame([(s,) for s in subjects], "k long"),
        partition_by=["part"],
    )
    if res["rows_erased"] == 0:
        raise AssertionError("no rows erased: fixture degenerate")
    after = inodes()
    for rel in miss:
        if after.get(rel) != before[rel]:
            raise AssertionError(
                f"bloom-miss file {rel} was rewritten: the erase "
                "degenerated to partition grain"
            )
    if any(rel in after for rel in hit):
        raise AssertionError("a bloom-hit file survived the rewrite")
    if wh.bloom("ord_p") is None:
        raise AssertionError("erase dropped the manifest: next erase won't prune")
    return wh.read(spark, "ord_p")


# ---------------------------------------------------------------------------
# Scan-scoped CDC merge — exact touched-file discovery for targets
# UNCLUSTERED on their key (S11 refinement; the touched-file semi-join
# Delta's MERGE runs; ref :369-408 delegates the equivalent scoping to
# Snowflake's engine)
# ---------------------------------------------------------------------------

_Q140_ORACLE = """
    WITH subjects AS MATERIALIZED (
        SELECT DISTINCT c_custkey FROM customer
        WHERE c_custkey % 151 = 7
        ORDER BY c_custkey
        LIMIT 10
    ),
    changes AS MATERIALIZED (
        SELECT CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
               o_custkey AS c_custkey,
               'schg-' || CAST(o_orderkey AS VARCHAR) AS c_name,
               o_totalprice + 1000 AS c_acctbal,
               o_orderdate AS _file,
               o_orderkey AS _rownum
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM subjects)
    ),
    deduped AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _file DESC, _rownum DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal
    FROM customer t
    FULL OUTER JOIN deduped s ON t.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL OR s.op <> 'D'
"""


@query("q140_scan_scoped_merge", _Q140_ORACLE)
def q140_scan_scoped_merge(spark, sf_dir):
    """The SCAN-scoped CDC merge end-to-end (the scan pruner,
    cdc._scan_files):
    customer lands hash-scattered on nationkey — UNCLUSTERED on its pk,
    with NO zone map, the retrofitted-table shape where the zone path
    cannot prune and the old fallback was a full-table rewrite per
    batch. A change batch confined to 10 customer keys merges through
    the automatic scan scope: one pk-column semi-join discovers the
    exact touched files, only those merge and rewrite, everything else
    hard-links through. Driver guards pin the scope: at least one file
    carries its inode, at least one was replaced, and the rewrite wrote
    fewer rows than the table holds. The returned final state
    hash-matches the full-outer merge restatement — proving the
    touched-file discovery has no false negatives (a missed file would
    leave a stale row the hash would catch)."""
    import shutil

    from .cdc import merge_and_write
    from .sources.warehouse import ParquetWarehouse

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    root = _scratch_root("q140", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(
        cust.drop("c_nationkey").repartition(16, F.col("c_custkey") % 97),
        "customer_s",
    )
    subjects = [
        r.c_custkey
        for r in cust.filter(F.col("c_custkey") % 151 == 7)
        .select("c_custkey")
        .distinct()
        .orderBy("c_custkey")
        .limit(10)
        .collect()
    ]
    orders = _t(spark, sf_dir, "orders")
    changes = orders.filter(F.col("o_custkey").isin(subjects)).select(
        F.when(F.col("o_orderkey") % 10 < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("schg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def inodes():
        base = os.path.join(root, "customer_s")
        return {
            n: os.stat(os.path.join(base, n)).st_ino
            for n in os.listdir(base)
            if n.endswith(".parquet")
        }

    before = inodes()
    n_rows = cust.count()
    n = merge_and_write(
        wh,
        "customer_s",
        wh.read(spark, "customer_s"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    after = inodes()
    if not any(after.get(r) == i for r, i in before.items()):
        raise AssertionError(
            "scan-scoped merge carried no file: the touched-file "
            "discovery degenerated to a full rewrite"
        )
    if not any(r not in after for r in before):
        raise AssertionError("no file was replaced: the merge was a no-op")
    if not n < n_rows:
        raise AssertionError(
            f"scan-scoped merge wrote {n} rows for a {n_rows}-row table"
        )
    return wh.read(spark, "customer_s")


# ---------------------------------------------------------------------------
# Recluster maintenance rewrite — restoring zone-map pruning on a table
# whose layout drifted unclustered (S11/S16 composed; the OPTIMIZE /
# re-cluster maintenance the reference delegates to Snowflake's
# automatic clustering service, ref :369-408)
# ---------------------------------------------------------------------------

_Q141_ORACLE = """
    WITH bounds AS MATERIALIZED (
        SELECT max(c_custkey) * 1 / 10 AS lo,
               max(c_custkey) * 3 / 20 AS hi
        FROM customer
    ),
    changes AS MATERIALIZED (
        SELECT CASE WHEN o_orderkey % 10 < 2 THEN 'D' ELSE 'U' END AS op,
               o_custkey AS c_custkey,
               'rchg-' || CAST(o_orderkey AS VARCHAR) AS c_name,
               CAST(o_orderkey % 25 AS INTEGER) AS c_nationkey,
               o_totalprice + 1000 AS c_acctbal,
               o_orderpriority AS c_mktsegment,
               o_orderdate AS _file,
               o_orderkey AS _rownum
        FROM orders, bounds
        WHERE o_custkey BETWEEN bounds.lo AND bounds.hi
    ),
    deduped AS MATERIALIZED (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY c_custkey ORDER BY _file DESC, _rownum DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
                ELSE t.c_name END AS c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
                ELSE t.c_nationkey END AS c_nationkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t
    FULL OUTER JOIN deduped s ON t.c_custkey = s.c_custkey
    WHERE s.c_custkey IS NULL OR s.op <> 'D'
"""


@query("q141_recluster_merge_prune", _Q141_ORACLE)
def q141_recluster_merge_prune(spark, sf_dir):
    """The RECLUSTER maintenance rewrite end-to-end
    (``ParquetWarehouse.recluster``): customer lands hash-SCATTERED on
    its pk with a zone map whose bands all overlap — the layout a table
    drifts into after thousands of CDC merges, where the zone-scoped
    path stops pruning and every batch pays the scan-scoped key-column
    read. The face first PROVES the drift (zone_overlap_split over the
    batch's narrow band prunes zero files), reclusters back into
    range-sorted bands, then runs a q131-style narrow merge through the
    automatic prune path. Driver guards pin the payoff: after
    reclustering, MOST files must carry their inode through the merge
    (pruning works again, metadata-only), the rewrite stays sub-linear,
    and the committed state keeps its zone map. The final table
    hash-matches the pure-SQL merge restatement — reclustering and
    pruning change the I/O, never the result."""
    import shutil

    from .cdc import merge_and_write
    from .sources.warehouse import ParquetWarehouse

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    maxk = cust.agg(F.max("c_custkey")).first()[0]
    lo, hi = maxk * 1 / 10, maxk * 3 / 20

    root = _scratch_root("q141", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    # drifted layout: hash-scattered on a pk transform, zone map present
    # but useless (every file's band spans ~the whole keyspace)
    wh.overwrite(
        cust.repartition(16, F.col("c_custkey") % 97), "customer_u"
    )
    wh.write_zonemap(spark, "customer_u", ["c_custkey"])
    band = {"c_custkey": (lo, hi)}
    split = wh.zone_overlap_split("customer_u", band)
    if split is None:
        raise AssertionError("fixture lost its zone map")
    # at full SF zero files prune on the scattered layout; tiny SFs can
    # leave a few disjoint by chance, so the drift proof is RELATIVE:
    # reclustering must strictly grow the pruned set past half the files
    disjoint_before = len(split[1])

    res = wh.recluster(spark, "customer_u", cluster_partitions=16)
    overlap, disjoint = wh.zone_overlap_split("customer_u", band)
    if not (
        len(disjoint) > disjoint_before
        and len(disjoint) >= res["files_after"] // 2
    ):
        raise AssertionError(
            f"recluster left wide bands: {len(disjoint)} of "
            f"{res['files_after']} files prune for a 5% key band "
            f"(was {disjoint_before} before)"
        )

    orders = _t(spark, sf_dir, "orders")
    changes = orders.filter(
        F.col("o_custkey").between(F.lit(lo), F.lit(hi))
    ).select(
        F.when(F.col("o_orderkey") % 10 < 2, "D").otherwise("U").alias("op"),
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("rchg-"), F.col("o_orderkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("o_orderkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("o_totalprice") + 1000).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
        F.col("o_orderdate").alias("_file"),
        F.col("o_orderkey").alias("_rownum"),
    )

    def inodes():
        base = os.path.join(root, "customer_u")
        return {
            n: os.stat(os.path.join(base, n)).st_ino
            for n in os.listdir(base)
            if n.endswith(".parquet")
        }

    before = inodes()
    n_rows = cust.count()
    n = merge_and_write(
        wh,
        "customer_u",
        wh.read(spark, "customer_u"),
        changes,
        pks=["c_custkey"],
        version_cols=["_file", "_rownum"],
    )
    after = inodes()
    carried = [r for r in before if after.get(r) == before[r]]
    if len(carried) < len(before) // 2:
        raise AssertionError(
            f"post-recluster merge carried only {len(carried)} of "
            f"{len(before)} files for a 5% key band: pruning is broken"
        )
    if not n < n_rows:
        raise AssertionError(
            f"merge wrote {n} rows for a {n_rows}-row table: not sub-linear"
        )
    if wh.zonemap("customer_u") is None:
        raise AssertionError("merge dropped the zone map")
    return wh.read(spark, "customer_u")


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors — instant deletes with zero data-file
# I/O, materialized by a pruned maintenance rewrite (the erasure
# fast-path; Iceberg equality-delete shape. Ref :488-492's DELETE is a
# warehouse-side row delete the reference delegates to Snowflake.)
# ---------------------------------------------------------------------------

_Q142_ORACLE = """
    WITH bounds AS MATERIALIZED (
        SELECT max(doc_id) * 3 / 10 AS lo,
               max(doc_id) * 7 / 20 AS hi
        FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars
    FROM documents, bounds
    WHERE doc_id NOT BETWEEN bounds.lo AND bounds.hi
"""


@query("q142_delete_vectors", _Q142_ORACLE)
def q142_delete_vectors(spark, sf_dir):
    """MERGE-ON-READ deletion vectors end-to-end
    (``delete_keys``/``materialize_deletes``): documents lands
    pk-clustered with a bloom manifest, a 5%-band key set deletes
    through the ``_deletes`` sidecar, and the face pins the three-phase
    contract with driver guards — (1) the delete touches ZERO data
    files (every inode unchanged) yet ``read`` masks the keys
    immediately; (2) materialization discovers the affected files from
    the bloom manifest alone and rewrites ONLY those (at least one
    inode carries); (3) the sidecar is gone and the merge-on-read
    count equals the materialized count. The returned final state
    hash-matches the plain SQL anti-filter — the sidecar indirection
    changes WHEN the I/O happens (0 now, pruned later), never the
    result."""
    import shutil

    from .sources.warehouse import DELETES_FILE, ParquetWarehouse

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    maxid = docs.agg(F.max("doc_id")).first()[0]
    lo, hi = maxid * 3 / 10, maxid * 7 / 20

    root = _scratch_root("q142", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(
        docs, "docs_mor", cluster_by=["doc_id"], cluster_partitions=8
    )
    wh.write_bloom(spark, "docs_mor", ["doc_id"])

    def inodes():
        base = os.path.join(root, "docs_mor")
        return {
            n: os.stat(os.path.join(base, n)).st_ino
            for n in os.listdir(base)
            if n.endswith(".parquet")
        }

    keys = docs.filter(
        F.col("doc_id").between(F.lit(lo), F.lit(hi))
    ).select("doc_id")
    pristine = inodes()
    wh.delete_keys(spark, "docs_mor", "doc_id", keys)
    if inodes() != pristine:
        raise AssertionError(
            "delete_keys touched a data file: the merge-on-read delete "
            "must be metadata-only"
        )
    mor_count = wh.read(spark, "docs_mor").count()

    res = wh.materialize_deletes(spark, "docs_mor")
    after = inodes()
    carried = [n for n in pristine if after.get(n) == pristine[n]]
    if not carried:
        raise AssertionError(
            "materialize rewrote every file for a 5% key band: the "
            "bloom-pruned discovery is broken"
        )
    if res["files_replaced"] == 0 or res["keys_applied"] == 0:
        raise AssertionError(f"materialize was a no-op: {res}")
    if os.path.isfile(os.path.join(root, "docs_mor", DELETES_FILE)):
        raise AssertionError("materialize left the _deletes sidecar behind")
    final = wh.read(spark, "docs_mor")
    if final.count() != mor_count:
        raise AssertionError(
            "merge-on-read result disagrees with the materialized state"
        )
    return final


# ---------------------------------------------------------------------------
# Composite-key deletion vectors folded through a live CDC merge — the
# round-12 decoupling: a deferred GDPR queue (merge-on-read sidecar) no
# longer stalls ingestion, and the delete key is the reference's
# comma-separated primary-key LIST (ref
# control_migration_schema_script.sql:27,298-299, joined conjunctively
# at :336-340), not a single column.
# ---------------------------------------------------------------------------

_Q144_ORACLE = """
    WITH b AS MATERIALIZED (SELECT max(o_orderkey) AS m FROM orders)
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey * 100 BETWEEN 30 * m AND 33 * m
                THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey * 100 BETWEEN 30 * m AND 33 * m
                THEN 'restored'
                WHEN o_orderkey * 100 BETWEEN 60 * m AND 63 * m
                THEN 'upd'
                ELSE o_orderpriority END AS o_orderpriority
    FROM orders, b
    WHERE NOT (o_orderkey * 100 BETWEEN 30 * m AND 40 * m)
       OR (o_orderkey * 100 BETWEEN 30 * m AND 33 * m)
"""


@query("q144_composite_delete_fold", _Q144_ORACLE)
def q144_composite_delete_fold(spark, sf_dir):
    """Composite-key merge-on-read deletes + the CDC fold, end-to-end on
    orders with the composite pk (o_custkey, o_orderkey) — the
    reference's comma-separated primary-key LIST shape:

    1. the key-clustered table takes a band delete [30%,40%] of the
       o_orderkey space through ``delete_keys(key_cols=[...])`` — ZERO
       data files touched (inode proof), reads mask the tuples
       immediately (conjunctive match on both columns);
    2. a CDC batch then lands WHILE the sidecar is pending (this used to
       refuse): it re-inserts the [30%,33%] sub-band with new values and
       updates the disjoint [60%,63%] band;
    3. the merge folds the pending set: the re-inserted tuples SURVIVE
       with the batch's values (CDC wins over the stale tombstone), the
       (33%,40%] remainder stays masked, the sidecar shrinks to exactly
       that remainder, and the clustered layout's zone scope carries
       untouched files as hard links (inode proof).

    The final state hash-matches the plain SQL CASE/anti-filter — the
    sidecar indirection and the fold change when the I/O happens, never
    the result."""
    import shutil

    from .cdc import merge_and_write
    from .sources.warehouse import ParquetWarehouse

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    m = orders.agg(F.max("o_orderkey")).first()[0]
    ok100 = F.col("o_orderkey") * 100

    root = _scratch_root("q144", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(
        orders, "ord_mor", cluster_by=["o_orderkey"], cluster_partitions=8,
        stat_cols=["o_orderkey"],
    )

    def inodes():
        base = os.path.join(root, "ord_mor")
        return {
            n: os.stat(os.path.join(base, n)).st_ino
            for n in os.listdir(base)
            if n.endswith(".parquet")
        }

    dele = orders.filter(ok100.between(30 * m, 40 * m)).select(
        "o_custkey", "o_orderkey"
    )
    pristine = inodes()
    got = wh.delete_keys(
        spark, "ord_mor", ["o_custkey", "o_orderkey"], dele
    )
    if got["n_keys"] == 0:
        raise AssertionError("fixture produced no pending deletes")
    if inodes() != pristine:
        raise AssertionError("composite delete_keys touched a data file")

    restored = orders.filter(ok100.between(30 * m, 33 * m)).select(
        F.lit("I").alias("op"),
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
        F.lit("restored").alias("o_orderpriority"),
        F.lit("f1").alias("_file"),
        F.lit(1).alias("_rownum"),
    )
    updates = orders.filter(ok100.between(60 * m, 63 * m)).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit("upd").alias("o_orderpriority"),
        F.lit("f1").alias("_file"),
        F.lit(1).alias("_rownum"),
    )
    n_restored = restored.count()
    n = merge_and_write(
        wh,
        "ord_mor",
        wh.read(spark, "ord_mor"),
        restored.unionByName(updates),
        pks=["o_custkey", "o_orderkey"],
        version_cols=["_file", "_rownum"],
    )
    if n == 0:
        raise AssertionError("fold merge wrote nothing")
    dm = wh.pending_deletes("ord_mor")
    if dm is None or dm["n_keys"] != got["n_keys"] - n_restored:
        raise AssertionError(
            f"sidecar should hold exactly the non-reasserted tuples: "
            f"{got['n_keys']} - {n_restored} != "
            f"{dm and dm['n_keys']}"
        )
    if set(dm["key_cols"]) != {"o_custkey", "o_orderkey"}:
        raise AssertionError(f"manifest lost the key tuple: {dm}")
    after = inodes()
    carried = [f for f in pristine if after.get(f) == pristine[f]]
    if not carried:
        raise AssertionError(
            "fold merge rewrote every file for two narrow key bands: "
            "the zone scope is broken"
        )
    if wh.zonemap("ord_mor") is None:
        raise AssertionError("fold merge dropped the zone map")
    return wh.read(spark, "ord_mor")


# ---------------------------------------------------------------------------
# Avro stage roundtrip — the last capability-gated source path, now
# executable WITHOUT spark-avro via the stdlib OCF fallback (binaryFile
# + mapInPandas decode; the external module remains the scale path).
# Ref: metadata file_format :26; COPY INTO accepts Avro :291.
# ---------------------------------------------------------------------------

def q146_bench_avro(spark, sf_dir):
    """The Avro stage format fixture, q126/q127's sibling: the
    full supplier table lands in a scratch stage as MULTI-FILE Avro
    object-container files (one deflate-compressed) under foreign
    source column names, comes back through ``read_stage_avro``'s
    positional cast with the file-metadata virtual columns, filters,
    and aggregates per nation. Without spark-avro (this container) the
    read exercises the distributed stdlib fallback; with the module
    deployed the same call takes the native scan — either way the hash
    must match the parquet-side restatement. The assert_true guard
    proves the per-file rownum is a dense unique sequence. The stage
    fixture is synthesized by collecting supplier — the SMALL dim table
    (the producer in production is DMS itself, so fixture synthesis is
    driver-side by nature)."""
    import shutil

    from .sources.avro_stage import read_stage_avro, write_container

    sup = _t(spark, sf_dir, "supplier")
    schema = sup.schema
    root = _scratch_root("q146", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    rows = [
        (r.s_suppkey, r.s_name, r.s_nationkey, r.s_acctbal)
        for r in sup.collect()
    ]
    names = [f"SRC_COL_{i}" for i in range(4)]  # foreign: position restores
    types = ["long", "string?", "long", "double"]
    files = []
    thirds = (len(rows) + 2) // 3 or 1
    for i in range(3):
        chunk = rows[i * thirds : (i + 1) * thirds]
        f = os.path.join(stage, f"part-{i}.avro")
        write_container(
            f, names, types, chunk, codec="deflate" if i == 2 else "null"
        )
        files.append(f)
    back = read_stage_avro(spark, files, schema, with_file_metadata=True)
    back = back.filter(F.col("s_suppkey") % 3 == 0)
    guard = F.coalesce(
        F.assert_true(
            F.col("__pairs") == F.col("n_suppliers"),
            F.lit("per-file rownum not a dense unique sequence"),
        ).cast("long"),
        F.lit(0),
    )
    return (
        back.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
            F.count_distinct(F.struct("_dms_filename", "_dms_rownum")).alias(
                "__pairs"
            ),
        )
        .select(
            "s_nationkey",
            (F.col("n_suppliers") + guard).alias("n_suppliers"),
            "total_bal",
        )
    )


_Q126_MERGED_ORACLE = """
    SELECT 'orc' AS fmt, CAST(s_nationkey AS VARCHAR) AS k,
           CAST(count(*) AS BIGINT) AS n, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    UNION ALL
    SELECT 'xml', c_mktsegment,
           CAST(count(*) AS BIGINT), round(sum(c_acctbal), 2)
    FROM customer WHERE c_custkey % 5 = 0 GROUP BY c_mktsegment
    UNION ALL
    SELECT 'avro', CAST(s_nationkey AS VARCHAR),
           CAST(count(*) AS BIGINT), round(sum(s_acctbal), 2)
    FROM supplier WHERE s_suppkey % 3 = 0 GROUP BY s_nationkey
"""


@query("q126_stage_format_roundtrips", _Q126_MERGED_ORACLE)
def q126_stage_format_roundtrips(spark, sf_dir):
    """All three foreign stage formats' oracle faces in one relation
    (r18 fold of q126_orc/q127_xml/q146_avro — window-deadlock escape,
    registry.MERGED; ref metadata file_format :26, COPY INTO accepts
    ORC/XML/Avro :291). Each format runs its FULL original fixture —
    ORC multi-file positional cast with the dense-rownum assert_true
    guard, XML named schema-driven parse, Avro positional cast through
    the stdlib OCF fallback (one deflate file) — and the aligned,
    format-tagged union hash-matches the parquet-side restatements, so
    a regression in any one format's write/read/metadata path breaks
    the single driver row. Per-format plans are pinned separately in
    tests/test_plans.py and benched under their pre-r18 keys."""
    orc = q126_bench_orc(spark, sf_dir).select(
        F.lit("orc").alias("fmt"),
        F.col("s_nationkey").cast("string").alias("k"),
        F.col("n_suppliers").alias("n"),
        "total_bal",
    )
    xml = q127_bench_xml(spark, sf_dir).select(
        F.lit("xml").alias("fmt"),
        F.col("c_mktsegment").alias("k"),
        F.col("n_customers").alias("n"),
        "total_bal",
    )
    avro = q146_bench_avro(spark, sf_dir).select(
        F.lit("avro").alias("fmt"),
        F.col("s_nationkey").cast("string").alias("k"),
        F.col("n_suppliers").alias("n"),
        "total_bal",
    )
    return orc.unionByName(xml).unionByName(avro)


# ---------------------------------------------------------------------------
# Advisor-driven maintenance cycle — run_maintenance consuming the
# metadata-only advisors (the round-12 wiring of what was report-only):
# aged merge-on-read deletes materialize first, then the drifted layout
# reclusters, each as ONE bounded action per pass. The reference
# automates its maintenance in the task DAG (ref :494-538).
# ---------------------------------------------------------------------------

_Q145_ORACLE = """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal >= 0
"""


@query("q145_maintenance_cycle", _Q145_ORACLE)
def q145_maintenance_cycle(spark, sf_dir):
    """Two advisor-driven maintenance passes heal a neglected table:

    customer lands HASH-scattered under a c_custkey zone map (every
    band spans the key range — the CDC-accreted drift shape), then a
    deferred GDPR delete (negative balances, via ``delete_where``)
    leaves a pending sidecar. ``run_maintenance`` pass 1 must pick the
    aged deletes first (``materialize_deletes``, priority over the
    drift), pass 2 must then recluster the drifted layout — one bounded
    action per pass, exactly the budget discipline a 100 TB warehouse
    needs. Guards pin the action sequence, the drift score collapsing
    to ~1, and a narrow key band actually pruning files afterwards.
    The final state hash-matches the plain SQL filter — maintenance
    must never change WHAT the table says, only how it is laid out."""
    import shutil

    from .maintenance import MaintenancePolicy, run_maintenance
    from .sources.warehouse import ParquetWarehouse

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    root = _scratch_root("q145", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(cust.repartition(8, "c_name"), "cust_maint")
    wh.write_zonemap(spark, "cust_maint", ["c_custkey"])
    if wh.layout_drift("cust_maint")["avg_cover"] <= 2:
        raise AssertionError("fixture layout is not drifted")

    wh.delete_where(spark, "cust_maint", "c_custkey", "c_acctbal < 0")
    if wh.pending_deletes("cust_maint") is None:
        raise AssertionError("fixture produced no pending deletes")

    policy = MaintenancePolicy(
        drift_threshold=2.0, max_delete_age_s=0.0, max_actions_per_cycle=1
    )
    pass1 = run_maintenance(spark, wh, ["cust_maint"], policy)
    if pass1[0]["action"] != "materialize_deletes":
        raise AssertionError(
            f"aged deletes must outrank drift: {pass1}"
        )
    pass2 = run_maintenance(spark, wh, ["cust_maint"], policy)
    if pass2[0]["action"] != "recluster":
        raise AssertionError(f"drift must recluster on pass 2: {pass2}")
    drift = wh.layout_drift("cust_maint")
    if drift["avg_cover"] > 1.5:
        raise AssertionError(f"recluster left drift: {drift}")
    m = cust.agg(F.max("c_custkey")).first()[0]
    split = wh.zone_overlap_split("cust_maint", {"c_custkey": (1, m // 20)})
    if split is None or len(split[1]) < drift["files"] // 2:
        raise AssertionError(
            f"a 5% key band should prune most files post-recluster: {split}"
        )
    pass3 = run_maintenance(spark, wh, ["cust_maint"], policy)
    if pass3[0]["action"] != "none":
        raise AssertionError(f"healed table must be left alone: {pass3}")
    # r16: the scheduler's REBUCKET arm on the same cycle discipline — a
    # bucketed sibling whose persisted spec (4 buckets) drifted from the
    # declared layout (8) is REPORTED under the default policy and
    # CONVERGED by one budgeted pass once the operator opts in
    wh.write_bucketed(
        cust.select("c_custkey", "c_acctbal"), "cust_bkt",
        bucket_by=["c_custkey"], n_buckets=4,
    )
    declared = {"cust_bkt": {"bucket_by": ["c_custkey"], "n_buckets": 8}}
    report = run_maintenance(
        spark, wh, ["cust_bkt"], policy, layouts=declared
    )
    if report[0]["action"] != "none" or "bucket_drift" not in report[0]:
        raise AssertionError(
            f"drift must be report-only under the default policy: {report}"
        )
    act = run_maintenance(
        spark, wh, ["cust_bkt"],
        MaintenancePolicy(rebucket_drift=True, max_delete_age_s=0.0),
        layouts=declared,
    )
    if act[0]["action"] != "rebucket":
        raise AssertionError(f"opt-in drift must rebucket: {act}")
    if wh.bucket_spec("cust_bkt")["n_buckets"] != 8:
        raise AssertionError("rebucket did not converge the declared layout")
    return wh.read(spark, "cust_maint")


# ---------------------------------------------------------------------------
# Group snapshot with a carried pending-delete sidecar — the round-12
# epoch-consistency × defer-GDPR composition, reader-visible.
# ---------------------------------------------------------------------------

_Q147_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders
    WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
"""


@query("q147_group_snapshot_mask", _Q147_ORACLE)
def q147_group_snapshot_mask(spark, sf_dir):
    """A consistent group snapshot taken WHILE merge-on-read deletes are
    pending: ``commit_group_linked`` carries the sidecar (hard-linked
    key parquet + manifest) into the snapshot instead of refusing the
    epoch, and ``read_group`` resolves the masked view. Guards pin that
    the snapshot stays masked AFTER the live table materializes (the
    links outlive the working sidecar) and that the live and snapshot
    views agree. Returned through the snapshot reader so the oracle
    hash-checks the carried mask itself."""
    import shutil

    from .sources.warehouse import ParquetWarehouse

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    root = _scratch_root("q147", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    wh = ParquetWarehouse(root)
    wh.overwrite(orders, "ord_snap")
    wh.delete_where(
        spark, "ord_snap", "o_orderkey",
        "o_orderkey % 7 = 0 AND o_orderstatus = 'F'",
    )
    if wh.pending_deletes("ord_snap") is None:
        raise AssertionError("fixture produced no pending deletes")
    wh.commit_group_linked(["ord_snap"], "cycle")
    snap = wh.read_group(spark, "cycle")["ord_snap"]
    live_n = wh.read(spark, "ord_snap").count()
    if snap.count() != live_n:
        raise AssertionError(
            "snapshot view disagrees with the live masked view"
        )
    # materialize on the LIVE table; the snapshot must stay masked via
    # its own carried sidecar (hard links outlive the working dirs)
    wh.materialize_deletes(spark, "ord_snap")
    snap = wh.read_group(spark, "cycle")["ord_snap"]
    if snap.count() != live_n:
        raise AssertionError(
            "snapshot lost its carried mask after the live materialize"
        )
    return snap.select("o_orderkey", "o_custkey", "o_orderpriority")


_Q152_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           min(o_orderpriority) AS min_priority,
           max(o_orderpriority) AS max_priority
    FROM orders
"""


@query("q152_metadata_stats", _Q152_ORACLE)
def q152_metadata_stats(spark, sf_dir):
    """Metadata-only stats face (r16 warehouse batch, staged for an r18
    slot): orders lands range-clustered with a zone-map manifest, and
    count/min/max are answered from the MANIFEST ALONE — zero data I/O
    (warehouse.metadata_stats, the Iceberg-metadata-table pattern). The
    oracle recomputes the same aggregates by scanning, so the hash
    match proves the manifest's exact-bounds invariant end to end."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q152", sf_dir))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    wh.overwrite(
        orders,
        "o_stats",
        cluster_by=["o_orderkey"],
        stat_cols=["o_orderkey", "o_orderpriority"],
    )
    st = wh.metadata_stats("o_stats")
    return spark.createDataFrame(
        [
            (
                st["rows"],
                st["cols"]["o_orderkey"]["min"],
                st["cols"]["o_orderkey"]["max"],
                st["cols"]["o_orderpriority"]["min"],
                st["cols"]["o_orderpriority"]["max"],
            )
        ],
        "n_rows BIGINT, min_key BIGINT, max_key BIGINT, "
        "min_priority STRING, max_priority STRING",
    )


_Q158_ORACLE = """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
"""


@query("q160_append_bucketed_insert", _Q158_ORACLE)
def q160_append_bucketed_insert(spark, sf_dir):
    """q158's INSERT INTO face for BUCKETED targets (r18 — the r17
    verdict's task-4 primitive under the driver oracle, staged for an
    r19/r20 slot): orders lands in two halves — a bucketed overwrite on
    o_custkey, then append_files routing the second half through the
    bucket-preserving stager (every landed file carries its _NNNNN
    bucket suffix; no existing file opened) — and the catalog read-back
    hash-matches the raw table. A mis-bucketed row, a broken layout
    sidecar, or a lost/duplicated file breaks the hash; the
    zero-exchange join over the post-append layout is pinned in
    tests/test_append_files.py."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q160", sf_dir))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    wh.write_bucketed(
        orders.filter(F.col("o_orderkey") % 2 == 0), "o_bapp",
        ["o_custkey"], 4, sort_by=["o_custkey"],
        bloom_cols=["o_orderkey"],
    )
    res = wh.append_files(
        spark, orders.filter(F.col("o_orderkey") % 2 == 1), "o_bapp"
    )
    if res["files_added"] < 1:
        raise AssertionError(f"append landed no files: {res}")
    if wh.bucket_spec("o_bapp")["n_buckets"] != 4:
        raise AssertionError("append dropped the bucket layout")
    if wh.bloom("o_bapp") is None:
        raise AssertionError("append dropped the bloom manifest")
    return wh.read_bucketed(spark, "o_bapp").select(*orders.columns)


@query("q158_append_files_insert", _Q158_ORACLE)
def q158_append_files_insert(spark, sf_dir):
    """The O(batch) INSERT INTO primitive under the driver oracle
    (staged for r18): orders lands in two halves — a full overwrite,
    then append_files renaming the second half's files in without
    opening any existing file — and the read-back hash-matches the raw
    table, certifying that file-append commits lose and alter nothing
    (the commit shape every continuous-ingest stream in the engine
    rides)."""
    from .sources.warehouse import ParquetWarehouse

    wh = ParquetWarehouse(_scratch_root("q158", sf_dir))
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    wh.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0), "o_app")
    res = wh.append_files(
        spark, orders.filter(F.col("o_orderkey") % 2 == 1), "o_app"
    )
    if res["files_added"] < 1:
        raise AssertionError(f"append landed no files: {res}")
    return wh.read(spark, "o_app")
