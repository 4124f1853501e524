"""Extended relational query surface: true as-of / range / semi / anti
joins, rollup/cube/grouping sets, pivot/unpivot, explode, cumulative
windows, sessionization, deterministic moments/median, set ops, and
scalar-function suites — each with a DuckDB oracle.

These widen the engine beyond the reference's §2 surface to what a
complete analytics engine must cover; determinism contracts are the
same as queries_core (decimal accumulation for sums, int/int double
division, explicit tie-breaks on every window)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medallion_delta_lake_spark.functions.hashing import h64_sql
from medallion_delta_lake_spark.functions.texts import tokenize
from medallion_delta_lake_spark.operators import joins, window
from medallion_delta_lake_spark.plans.queries_core import dsum
from medallion_delta_lake_spark.plans.registry import query, table

# --------------------------------------------------------------- joins


@query(
    "join-asof-nearest",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS user_id, o_orderdate,
             o_orderdate AS order_ts, MAX(o_totalprice) AS order_total
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, r.order_ts, r.order_total
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
    """,
)
def join_asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / true as-of — latest order at-or-before each event, per
    user. Union-window formulation: one shuffle on the key, no range
    join explosion (the 100 TB point-in-time backfill plan). Oracle is
    DuckDB's native ASOF JOIN."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_custkey").alias("user_id"), F.col("o_orderdate")
    ).agg(F.max("o_totalprice").alias("order_total"))
    right = daily.select(
        "user_id",
        "o_orderdate",
        F.col("o_orderdate").alias("order_ts"),
        "order_total",
    )
    out = joins.asof_join(
        ev,
        right,
        keys=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["order_ts", "order_total"],
    )
    return out.select("event_id", "user_id", "ts", "order_ts", "order_total")


_BANDS = [(0.0, 10.0, "xs"), (10.0, 20.0, "s"), (20.0, 35.0, "m"), (35.0, 60.0, "l")]
_BANDS_SQL = ", ".join(f"({lo}, {hi}, '{n}')" for lo, hi, n in _BANDS)


@query(
    "join-range-bands",
    oracle=f"""
    WITH bands(lo, hi, band) AS (VALUES {_BANDS_SQL})
    SELECT b.band, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN bands b
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band
    """,
)
def join_range_bands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / range-band — broadcast interval join ([lo, hi) bucket per
    row) + aggregate. The dimension broadcasts; the fact side never
    shuffles until the 4-group aggregation."""
    li = table(spark, sf_dir, "lineitem").select("l_quantity")
    # SQL VALUES literal, not createDataFrame: a 4-row dimension should
    # not pay a Python->JVM RDD roundtrip (UnknownPartitioning scan)
    bands = spark.sql(
        f"SELECT * FROM (VALUES {_BANDS_SQL}) AS bands(lo, hi, band)"
    )
    joined = joins.range_join_bands(li, bands, "l_quantity").filter(
        F.col("band").isNotNull()
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "join-semi",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def join_semi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / left-semi — EXISTS without fan-out; only keys ship to the
    build side."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return joins.join_semi(o, li, o["o_orderkey"] == li["l_orderkey"])


@query(
    "join-anti",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def join_anti_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / left-anti — NOT EXISTS (orphan detection / exclusion)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return joins.join_anti(o, li, o["o_orderkey"] == li["l_orderkey"])


# ---------------------------------------------------- multi-level aggs


@query(
    "agg-rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / rollup — hierarchical totals (flag, flag+status, grand).
    Catalyst expands to one Expand + single aggregation — not N scans."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "agg-cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / cube — all grouping combinations in one pass."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


_GS_SQL = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
"""


@query("agg-grouping-sets", oracle=_GS_SQL)
def agg_grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / grouping sets — explicit set list via the SQL entry point
    (E3: temp view + spark.sql share the DataFrame plan lifecycle)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("mdls_gs_orders")
    return spark.sql(_GS_SQL.replace("FROM orders", "FROM mdls_gs_orders"))


# ------------------------------------------------------ pivot / unpivot


@query(
    "pivot-status",
    oracle="""
    SELECT o_orderpriority,
           coalesce(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F,
           coalesce(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O,
           coalesce(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot — long→wide with an explicit value list (no extra
    distinct-discovery scan, deterministic column order)."""
    o = table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@query(
    "unpivot-measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def unpivot_measures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt — wide→long without N scans (single Expand node)."""
    li = table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@query(
    "explode-token-freq",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(
        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    ranked AS (
      SELECT token, cnt, CAST(ROW_NUMBER() OVER
        (ORDER BY cnt DESC, token ASC) AS INT) AS rank
      FROM freq
    )
    SELECT token, cnt, rank FROM ranked WHERE rank <= 50
    """,
)
def explode_token_freq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode + lateral — global token frequency top-50 (the corpus
    vocabulary profile). Partial aggregation pre-shuffle keeps the
    exploded volume off the wire."""
    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-50 FIRST via orderBy().limit() (TakeOrderedAndProject),
    # then rank over the ≤50-row frame — never a vocab-cardinality
    # row_number in one partition (r12 global-window sweep)
    top = freq.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(50)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w))


# ------------------------------------------------------------- windows


@query(
    "window-running-sum",
    oracle="""
    SELECT event_id, user_id, ts, value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM events
    """,
)
def window_running_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / cumulative sum — exact decimal accumulation per key in
    event order (order-stable across engines)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return window.running_sum(
        ev, ["user_id"], ["ts", "event_id"], "value"
    )


@query(
    "window-lag-delta",
    oracle="""
    SELECT event_id, user_id, ts, value,
           value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_lag_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / lag — per-key successive difference (NULL first row)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return window.lag_delta(ev, ["user_id"], ["ts", "event_id"], "value")


@query(
    "window-agg-session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def window_agg_session_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / session — 30-minute-gap sessionization via
    F.session_window (batch twin of the streaming session operator);
    oracle is the SQL gaps-and-islands formulation."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return window.sessionize(ev, ["user_id"], "ts", gap="30 minutes")


# ------------------------------------------------- deterministic stats


@query(
    "stats-moments",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, sx / n AS mean,
           (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * (n - 1)) AS var_samp,
           sqrt((n * sxx - sx * sx)
                / (CAST(n AS DOUBLE) * (n - 1))) AS stddev_samp
    FROM s
    """,
)
def stats_moments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / exact moments — variance/stddev from decimal-exact sums
    (engine-independent, unlike streaming float stddev). Input values
    have 2 decimals so x² is exact in DECIMAL(38,6)."""
    ev = table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    var = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) / (
        n_d * (F.col("n") - 1)
    )
    return s.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        var.alias("var_samp"),
        F.sqrt(var).alias("stddev_samp"),
    )


@query(
    "stats-median-manual",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    )
    SELECT event_type, AVG(value) AS median
    FROM r
    WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
    GROUP BY event_type
    """,
)
def stats_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / exact median — positional (no interpolation-algorithm
    dependence): middle element, or mean of the two middles."""
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wc = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    lo = F.floor((F.col("cnt") + 1) / 2)
    hi = F.floor((F.col("cnt") + 2) / 2)
    return (
        r.filter((F.col("rn") >= lo) & (F.col("rn") <= hi))
        .groupBy("event_type")
        .agg(F.avg("value").alias("median"))
    )


# ------------------------------------------------------------- set ops


@query(
    "set-intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set / intersect — customers with both open and filled orders."""
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "O").select("o_custkey").intersect(
        o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    )


@query(
    "set-except",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_except_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set / except — customers with no pending orders."""
    o = table(spark, sf_dir, "orders")
    return o.select("o_custkey").distinct().exceptAll(
        o.filter(F.col("o_orderstatus") == "P").select("o_custkey").distinct()
    )


# ---------------------------------------------------- scalar functions


@query(
    "string-funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           concat_ws('-', c_mktsegment, lpad(CAST(c_custkey AS VARCHAR),
                                             8, '0')) AS seg_key,
           (c_name LIKE '%5%') AS has_five
    FROM customer
    """,
)
def string_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / string suite — upper, substring, length, concat_ws, lpad,
    LIKE (all JVM-side, codegen'd)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws(
            "-",
            F.col("c_mktsegment"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0"),
        ).alias("seg_key"),
        F.col("c_name").like("%5%").alias("has_five"),
    )


@query(
    "cond-funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_sentinel,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'large' END AS qty_class
    FROM lineitem
    """,
)
def cond_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / conditional suite — coalesce, nullif, greatest/least,
    floor-cast, CASE ladder."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias(
            "disc_or_sentinel"
        ),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.floor("l_quantity").alias("qty_floor"),
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("large")
        .alias("qty_class"),
    )


@query(
    "time-funcs",
    oracle="""
    SELECT event_id, ts,
           CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_start,
           DATE_TRUNC('hour', ts) AS hour_start,
           CAST(EXTRACT(year FROM ts) AS INT) AS y,
           CAST(EXTRACT(month FROM ts) AS INT) AS m,
           CAST(EXTRACT(day FROM ts) AS INT) AS d,
           CAST(EXTRACT(hour FROM ts) AS INT) AS h,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_sec
    FROM events
    """,
)
def time_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / time suite — truncation, field extraction, epoch seconds
    (UTC-pinned session keeps both engines on the same wall clock)."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    return ev.select(
        "event_id",
        "ts",
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.unix_timestamp(F.col("ts")).alias("unix_sec"),
    )


@query(
    "approx-quantile",
    # The KLL/GK estimate is engine-specific; the oracle checks the
    # sketch's rank-error guarantee instead. percentile_approx with
    # accuracy=10000 has rank error ≤ 1e-4; the query brackets each
    # estimate between the exact p∓0.01 percentiles (two orders of
    # magnitude of slack) and emits within_bound, which must be TRUE.
    oracle="""
    SELECT event_type, COUNT(*) AS n, TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def approx_quantile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx-quantile — percentile_approx per event type; the scale
    path of stats-median-manual (no full sort, mergeable sketches).
    Self-checks each quartile estimate against the exact p±0.01
    percentile bracket (sketch rank error is 1e-4 at accuracy=10000)."""
    ev = table(spark, sf_dir, "events")
    agged = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.25, 0.5, 0.75], 10000).alias("_appx"),
        F.expr("percentile(value, array(0.24, 0.49, 0.74))").alias("_lo"),
        F.expr("percentile(value, array(0.26, 0.51, 0.76))").alias("_hi"),
        F.count(F.lit(1)).alias("n"),
    )
    ok = F.lit(True)
    for i in range(3):
        ok = ok & (
            (F.col("_appx")[i] >= F.col("_lo")[i])
            & (F.col("_appx")[i] <= F.col("_hi")[i])
        )
    return agged.select("event_type", "n", ok.alias("within_bound"))


@query(
    "agg-salted-skew",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / salted — two-phase skew-safe aggregation: the hot key's
    rows spread over 16 salt buckets before the per-key merge. Result
    provably identical to the plain GROUP BY (decimal partials), which
    is what the oracle asserts."""
    from medallion_delta_lake_spark.operators import skew

    ev = table(spark, sf_dir, "events")
    return skew.salted_sum_count(ev, ["event_type"], "value")


@query(
    "join-salted-skew",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_name
    FROM events e JOIN customer c ON c.c_custkey = e.user_id % 1500
    """,
)
def join_salted_skew_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / salted — skew-safe equi-join (hot keys spread over salt
    buckets, dimension replicated ×buckets). Result provably identical
    to the plain join, which is what the oracle asserts; the measured
    straggler payoff is in BASELINE.md "Skewed-join lever"."""
    from medallion_delta_lake_spark.operators import skew

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        (F.col("user_id") % 1500).alias("c_custkey"),
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    out = skew.salted_join(ev, cust, ["c_custkey"], salt_buckets=8)
    return out.select("event_id", "user_id", "event_type", "c_name")


@query(
    "window-agg-hopping",
    oracle="""
    WITH starts AS (
      SELECT event_id, event_type, value, DATE_TRUNC('hour', ts) AS ws
      FROM events
      UNION ALL
      SELECT event_id, event_type, value,
             DATE_TRUNC('hour', ts + INTERVAL 30 MINUTE) - INTERVAL 30 MINUTE
      FROM events
    )
    SELECT ws AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM starts GROUP BY ws, event_type
    """,
)
def window_agg_hopping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / hopping — 1-hour windows sliding every 30 minutes
    (each event lands in exactly 2 windows; Spark's F.window with
    slideDuration expands via a single Expand node, no self-union).
    The oracle expresses the same thing as two phase-shifted tumbling
    grids."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.window(F.col("ts"), "1 hour", "30 minutes")
        .getField("start")
        .alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value"), "total_value"),
    )


@query(
    "agg-collect-array",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(event_type)), ',') AS types,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS distinct_types
    FROM events GROUP BY user_id
    """,
)
def agg_collect_array_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / collect to array — grouped collect_list/collect_set with a
    deterministic sort (collection order is execution-dependent; the
    sorted array is the stable contract both engines share). The result
    is projected through array_join so the driver harness — whose pandas
    canonicalizer cannot hash list cells — gets a scalar column; the
    array-native shape stays covered by tests/test_rel_arrays.py."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(F.collect_list("event_type")), ","
        ).alias("types"),
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("distinct_types"),
    )


@query(
    "join-null-safe",
    oracle="""
    WITH l AS (SELECT event_id,
                      CASE WHEN value < 20.0 THEN NULL ELSE event_type END AS k
               FROM events),
    r AS (SELECT DISTINCT CASE WHEN event_type = 'view' THEN NULL
                               ELSE event_type END AS k,
                 1 AS tagged
          FROM events)
    SELECT l.event_id, l.k, r.tagged
    FROM l LEFT JOIN r ON l.k IS NOT DISTINCT FROM r.k
    """,
)
def join_null_safe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / null-safe equality — NULL keys match NULL keys (<=> /
    IS NOT DISTINCT FROM), the semantics a plain equi-join silently
    drops."""
    ev = table(spark, sf_dir, "events")
    left = ev.select(
        "event_id",
        F.when(F.col("value") < 20.0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("k"),
    )
    right = (
        ev.select(
            F.when(F.col("event_type") == "view", F.lit(None))
            .otherwise(F.col("event_type"))
            .alias("k")
        )
        .distinct()
        .withColumn("tagged", F.lit(1))
    )
    return left.join(
        right, left["k"].eqNullSafe(right["k"]), "left"
    ).select(left["event_id"], left["k"], right["tagged"])


@query(
    "json-funcs",
    oracle="""
    WITH j AS (
      SELECT o_orderkey,
             '{"key": ' || CAST(o_orderkey AS VARCHAR)
               || ', "status": "' || o_orderstatus || '"}' AS doc
      FROM orders
    )
    SELECT o_orderkey,
           CAST(json_extract_string(doc, '$.status') AS VARCHAR) AS status,
           CAST(json_extract(doc, '$.key') AS BIGINT) AS key_back
    FROM j
    """,
)
def json_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / JSON — build + extract with path expressions (the
    semi-structured escape hatch; at scale prefer from_json with an
    explicit schema so Catalyst prunes fields)."""
    o = table(spark, sf_dir, "orders")
    doc = F.concat(
        F.lit('{"key": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "status": "'),
        F.col("o_orderstatus"),
        F.lit('"}'),
    )
    return o.select(
        "o_orderkey",
        F.get_json_object(doc, "$.status").alias("status"),
        F.get_json_object(doc, "$.key").cast("bigint").alias("key_back"),
    )


@query(
    "array-funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_dim,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(embedding[1:4],
                                         x -> CAST(x AS DOUBLE))),
             (s, y) -> s + y) AS head4_sum,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def array_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / array suite — size, element_at, slice, transform, filter,
    aggregate over the embedding column (all Catalyst higher-order
    functions). The sliced head is reduced to a sequential-fold sum
    (bit-identical between engines — same IEEE add order) so the driver
    harness hashes a scalar instead of a float array whose string form
    is engine-dependent; the array-native slice/transform output stays
    covered by tests/test_rel_arrays.py."""
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        F.aggregate(
            F.transform(
                F.slice("embedding", 1, 4), lambda x: x.cast("double")
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("head4_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "window-rank-family",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(ROW_NUMBER() OVER w AS INT) AS rn,
           CAST(RANK() OVER w AS INT) AS rnk,
           CAST(DENSE_RANK() OVER w AS INT) AS drnk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
    """,
)
def window_rank_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / rank family — row_number vs rank vs dense_rank under
    one ordering (ties broken by event_id keep row_number stable;
    rank/dense_rank expose the tie structure)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "agg-argmax",
    oracle="""
    SELECT event_type, event_id AS top_event_id, value AS top_value FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def agg_argmax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / argmax — the row attaining the max (value, id) per group
    via struct-max: an ordinary aggregate with map-side partial
    combine, so the shuffle carries one row per (group, partition) —
    unlike the window formulation the oracle uses (max_by is avoided:
    its tie-break is undefined)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.max(F.struct("value", "event_id")).alias("_m"))
        .select(
            "event_type",
            F.col("_m.event_id").alias("top_event_id"),
            F.col("_m.value").alias("top_value"),
        )
    )


@query(
    "sort-paginate",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 40
    """,
)
def sort_paginate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort / pagination — page 3 of a total order (OFFSET+LIMIT).
    Requires a full tie-broken ordering to be deterministic; at scale
    prefer keyset pagination (WHERE key > last_seen) — OFFSET still
    sorts the whole prefix."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(40)
        .limit(20)
    )


@query(
    "q1-sql-entry",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_sql_entry_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 / SQL-string entry point — the same flagship aggregation
    submitted as ANSI SQL over registered views (spark.sql shares the
    Catalyst plan lifecycle with the DataFrame API; SURVEY.md §3)."""
    from medallion_delta_lake_spark.catalog import register_testdata_views

    register_testdata_views(spark, sf_dir)
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """)


def _morton_oracle() -> str:
    from medallion_delta_lake_spark.functions.spatial import morton_key_sql

    zk = morton_key_sql("(l_orderkey % 65536)", "(l_partkey % 65536)", 16)
    return f"""
    SELECT l_orderkey, l_partkey, {zk} AS zkey
    FROM lineitem
    """


@query("derive-morton-zorder", oracle=_morton_oracle())
def derive_morton_zorder_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """derive / Z-order key — Morton bit-interleave of two join keys
    (the OPTIMIZE ZORDER clustering key as a pure codegen expression).
    Sorting a compaction by it makes row-group min/max pruning work for
    predicates on either column."""
    from medallion_delta_lake_spark.functions.spatial import morton_key

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return li.select(
        "l_orderkey",
        "l_partkey",
        morton_key(
            F.col("l_orderkey") % 65536, F.col("l_partkey") % 65536, 16
        ).alias("zkey"),
    )


@query(
    "approx-freq-items",
    # The sketch's contents are engine-specific, but its guarantee is
    # not: every item with frequency > support·n MUST appear in the
    # sketch output (superset property). The query emits the exact
    # heavy-hitter counts plus the containment flag; the oracle
    # recomputes the counts and expects containment to hold.
    oracle="""
    WITH t AS (SELECT COUNT(*) AS n FROM events),
    he AS (SELECT COUNT(*) AS n_heavy_types FROM (
             SELECT event_type FROM events GROUP BY event_type
             HAVING COUNT(*) > 0.1 * (SELECT n FROM t))),
    hu AS (SELECT COUNT(*) AS n_heavy_users FROM (
             SELECT user_id FROM events GROUP BY user_id
             HAVING COUNT(*) > 0.1 * (SELECT n FROM t)))
    SELECT he.n_heavy_types, hu.n_heavy_users, TRUE AS all_contained
    FROM he, hu
    """,
)
def approx_freq_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx / frequent items — single-pass heavy-hitters sketch per
    column (Karp et al. via DataFrame.freqItems); the bounded-memory
    alternative to an exact group-count at 100 TB. Self-checks the
    superset guarantee: all true >10% items are contained in the
    sketch output."""
    ev = table(spark, sf_dir, "events")
    fi = ev.freqItems(["event_type", "user_id"], support=0.1)
    n = ev.agg(F.count(F.lit(1)).alias("_n"))

    def heavy(col: str, out: str) -> DataFrame:
        return (
            ev.groupBy(col)
            .agg(F.count(F.lit(1)).alias("_c"))
            .crossJoin(F.broadcast(n))
            .filter(F.col("_c") > 0.1 * F.col("_n"))
            .agg(
                F.collect_list(col).alias(f"_{out}_items"),
                F.count(F.lit(1)).alias(f"n_{out}"),
            )
        )

    ht = heavy("event_type", "heavy_types")
    hu = heavy("user_id", "heavy_users")
    joined = fi.crossJoin(F.broadcast(ht)).crossJoin(F.broadcast(hu))
    contained = F.forall(
        F.col("_heavy_types_items"),
        lambda t: F.array_contains(F.col("event_type_freqItems"), t),
    ) & F.forall(
        F.col("_heavy_users_items"),
        lambda u: F.array_contains(F.col("user_id_freqItems"), u),
    )
    return joined.select(
        "n_heavy_types", "n_heavy_users", contained.alias("all_contained")
    )


@query(
    "struct-funcs",
    oracle="""
    WITH s AS (
      SELECT struct_pack(key := o_orderkey, status := o_orderstatus,
                         price := o_totalprice) AS rec
      FROM orders
    )
    SELECT (rec).key AS o_orderkey, (rec).status AS status,
           (rec).price * 2.0 AS double_price
    FROM s
    """,
)
def struct_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / struct — pack columns into a nested record and extract
    fields (the nested-data round trip; Catalyst prunes untouched
    struct fields at the scan)."""
    o = table(spark, sf_dir, "orders")
    packed = o.select(
        F.struct(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        ).alias("rec")
    )
    return packed.select(
        F.col("rec.key").alias("o_orderkey"),
        F.col("rec.status").alias("status"),
        (F.col("rec.price") * 2.0).alias("double_price"),
    )


@query(
    "map-funcs",
    oracle="""
    WITH m AS (
      SELECT o_orderkey,
             map(['status', 'priority'],
                 [o_orderstatus, o_orderpriority]) AS attrs
      FROM orders
    )
    SELECT o_orderkey,
           attrs['status'][1] AS status,
           attrs['missing'][1] AS absent
    FROM m
    """,
)
def map_funcs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / map — build a map column and extract by key (missing key
    → NULL in both engines; DuckDB's list-wrapped extraction is
    unwrapped with [1])."""
    o = table(spark, sf_dir, "orders")
    m = o.select(
        "o_orderkey",
        F.create_map(
            F.lit("status"),
            F.col("o_orderstatus"),
            F.lit("priority"),
            F.col("o_orderpriority"),
        ).alias("attrs"),
    )
    return m.select(
        "o_orderkey",
        F.element_at("attrs", "status").alias("status"),
        F.element_at("attrs", "missing").alias("absent"),
    )


@query(
    "explode-outer-nulls",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               x -> x = 'the') AS hits
      FROM documents
    )
    SELECT doc_id,
           unnest(CASE WHEN len(hits) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE hits END) AS hit
    FROM t
    """,
)
def explode_outer_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer — rows with empty arrays survive as NULL rows
    (plain explode silently drops them — the classic row-loss bug in
    token pipelines)."""
    docs = table(spark, sf_dir, "documents")
    hits = docs.select(
        "doc_id",
        F.filter(tokenize("text"), lambda x: x == "the").alias("hits"),
    )
    return hits.select(
        "doc_id", F.explode_outer("hits").alias("hit")
    )


@query(
    "join-full-outer",
    oracle="""
    WITH a AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey % 3 = 0),
    b AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders
          WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
    SELECT a.c_custkey, a.c_name, b.o_custkey, b.n_orders
    FROM a FULL OUTER JOIN b ON a.c_custkey = b.o_custkey
    """,
)
def join_full_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / full outer — both-side-preserving join (the reconciliation
    shape: rows exclusive to either side survive with NULLs). Disjoint
    modulus filters guarantee all three row classes appear."""
    a = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 3 == 0
    ).select("c_custkey", "c_name")
    b = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return a.join(b, F.col("c_custkey") == F.col("o_custkey"), "full_outer")


@query(
    "window-value-family",
    oracle="""
    SELECT event_id, user_id, ts, value,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_v,
           nth_value(value, 3) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_v,
           lead(value) OVER w AS next_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_value_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / value family — first/last/nth_value + lead per key in
    event order (full-frame for last/nth so they see the whole
    partition, the classic default-frame trap done right)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(wf).alias("last_v"),
        F.nth_value("value", 3).over(wf).alias("third_v"),
        F.lead("value").over(w).alias("next_v"),
    )


@query(
    "string-like-family",
    oracle="""
    SELECT p_partkey, p_name,
           p_name LIKE '%red%' AS has_red,
           p_name ILIKE 'SMALL%' AS starts_small_ci,
           regexp_matches(p_name, '^[a-z]+ (widget|gear)$') AS is_wg
    FROM part
    """,
)
def string_like_family_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expr / LIKE family — LIKE, case-insensitive ILIKE, and RLIKE
    regex matching (the everyday predicate trio; all codegen, all
    pushdown-eligible)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.col("p_name").like("%red%").alias("has_red"),
        F.col("p_name").ilike("SMALL%").alias("starts_small_ci"),
        F.col("p_name").rlike("^[a-z]+ (widget|gear)$").alias("is_wg"),
    )


@query(
    "agg-bitwise",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS k_and,
           bit_or(user_id) AS k_or,
           bit_xor(user_id) AS k_xor
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / bitwise — bit_and/or/xor grouped aggregates (flag-mask
    folding; associative+commutative, so partial aggregation applies
    and results are order-independent by construction)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").alias("k_and"),
        F.bit_or("user_id").alias("k_or"),
        F.bit_xor("user_id").alias("k_xor"),
    )


@query(
    "agg-histogram",
    # DuckDB has no width_bucket; the oracle spells out the same
    # SQL-standard semantics (floor((x-lo)/width)+1, clamped to n+1)
    oracle="""
    SELECT CAST(least(floor(l_quantity / 5.0) + 1, 11) AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_qty
    FROM lineitem GROUP BY bucket
    """,
)
def agg_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / histogram — equi-width value histogram via width_bucket
    (SQL-standard bucketing, identical boundary semantics in both
    engines); one grouped pass, the profiling primitive."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.width_bucket("l_quantity", F.lit(0.0), F.lit(50.0), F.lit(10))
            .alias("bucket"),
            "l_quantity",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
    )


@query(
    "stats-corr",
    # scales chosen so every sum stays under 2^53 units → the
    # decimal→double casts are EXACT (not just correctly rounded) in
    # both engines, making the downstream float arithmetic identical
    oracle="""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_discount
                           AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity * l_quantity
                           AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_discount * l_discount
                           AS DECIMAL(38,4))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_qty_disc
    FROM s
    """,
)
def stats_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / correlation — Pearson r from decimal-exact sums (the
    built-in F.corr accumulates floats in partition order and is NOT
    engine-reproducible; this formulation is). Scales are sized so
    every sum is exactly double-representable (< 2^53 units)."""
    li = table(spark, sf_dir, "lineitem")

    def ds(c, scale=2):
        return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")

    x, y = F.col("l_quantity"), F.col("l_discount")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        ds(x).alias("sx"),
        ds(y).alias("sy"),
        ds(x * y).alias("sxy"),
        ds(x * x).alias("sxx"),
        ds(y * y, scale=4).alias("syy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("l_returnflag", "n", corr.alias("corr_qty_disc"))


@query(
    "window-ntile-binning",
    oracle="""
    SELECT event_id, event_type, value,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value ASC, event_id ASC)
    """,
)
def window_ntile_binning_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / distribution binning — ntile quartiles + percent_rank +
    cume_dist per event type (feature binning / winsorization prep).
    percent_rank and cume_dist are exact rationals of integer ranks, so
    they reproduce bit-for-bit; event_id tie-break pins ntile."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id", "event_type", "value",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "window-rolling-agg",
    oracle="""
    SELECT event_id, user_id, ts, value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
             AS roll_sum,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max,
           COUNT(*) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / rolling — trailing 7-row sum/min/max/count per key (the
    moving-feature primitive); decimal-exact rolling sum so frame
    contents, not accumulation order, determine the value."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-6, W.currentRow)
    )
    return ev.select(
        "event_id", "user_id", "ts", "value",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w)
        .cast("double").alias("roll_sum"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


@query(
    "impute-group-mean",
    # events.value has no nulls, so nulls are planted deterministically
    # (every 5th event) in both engines before imputation
    oracle="""
    WITH v AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(value) AS grp_mean
      FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type,
           COALESCE(v.value, m.grp_mean) AS value_imputed,
           v.value IS NULL AS was_imputed
    FROM v JOIN m ON m.event_type = v.event_type
    """,
)
def impute_group_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean / imputation — fill nulls with the per-group mean
    (decimal-exact numerator / non-null count), the standard feature
    repair; broadcast of the tiny means frame, no second scan of the
    fact."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    means = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("value")
        ).alias("grp_mean")
    )
    return (
        ev.join(F.broadcast(means), "event_type")
        .select(
            "event_id",
            "event_type",
            F.coalesce("value", "grp_mean").alias("value_imputed"),
            F.col("value").isNull().alias("was_imputed"),
        )
    )


@query(
    "normalize-group-zscore",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
               AS sxx
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           (e.value - m.sx / m.n)
             / sqrt((m.n * m.sxx - m.sx * m.sx)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1))) AS zscore
    FROM events e JOIN m ON m.event_type = e.event_type
    """,
)
def normalize_group_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean / z-score — per-group standardization from decimal-exact
    moments (mean and sample stddev derived from exact sums, one
    broadcast back over the fact; F.stddev would be partition-order
    float accumulation and engine-divergent)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    std = F.sqrt((n * sxx - sx * sx) / (n.cast("double") * (n - 1)))
    return (
        ev.join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            ((F.col("value") - sx / n) / std).alias("zscore"),
        )
    )


@query(
    "cohort-retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(DATE_TRUNC('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS activity_week
      FROM events
    )
    SELECT f.cohort_week, a.activity_week,
           COUNT(*) AS active_users
    FROM firsts f JOIN activity a ON a.user_id = f.user_id
    GROUP BY f.cohort_week, a.activity_week
    """,
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / cohort retention — users bucketed by first-seen week
    × activity week (the classic retention triangle): two grouped
    passes over narrow (user, week) pairs, one equi-join on user."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@query(
    "funnel-analysis",
    oracle="""
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_viewed,
           COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after,
           COUNT(CASE WHEN t_buy > t_click AND t_click > t_view
                 THEN 1 END) AS n_converted
    FROM steps
    """,
)
def funnel_analysis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / funnel — ordered view→click→purchase conversion
    counts via first-occurrence timestamps per step (one grouped pass,
    conditional MINs; NULL comparisons drop non-completers exactly as
    the SQL three-valued logic does)."""
    ev = table(spark, sf_dir, "events")

    def first_of(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_buy"),
    )
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after"
        ),
        F.count(
            F.when(
                (F.col("t_buy") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_converted"),
    )


@query(
    "snapshot-diff",
    # "new" snapshot derived deterministically from orders: drop every
    # 10th key, modify every 7th (priority bump), add shifted keys —
    # both engines build the same two states and diff them
    oracle="""
    WITH old AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             o_orderpriority AS priority
      FROM orders
    ),
    new AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CASE WHEN o_orderkey % 7 = 0 THEN '0-BUMPED'
                  ELSE o_orderpriority END AS priority
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000 AS k, 'N' AS status,
             '9-NEW' AS priority
      FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT COALESCE(o.k, n.k) AS k,
           CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                WHEN o.status IS DISTINCT FROM n.status
                  OR o.priority IS DISTINCT FROM n.priority THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM old o FULL OUTER JOIN new n ON n.k = o.k
    """,
)
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cdc / snapshot diff — classify every key across two table
    versions as added / removed / changed / unchanged (the audit
    companion to the SCD-1 upsert: what WOULD a merge do). Full-outer
    join on the key, null-safe column comparison — one shuffle."""
    o = table(spark, sf_dir, "orders")
    old = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    )
    new = (
        o.filter(F.col("o_orderkey") % 10 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.when(F.col("o_orderkey") % 7 == 0, "0-BUMPED")
            .otherwise(F.col("o_orderpriority"))
            .alias("priority"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 1000000).alias("k"),
                F.lit("N").alias("status"),
                F.lit("9-NEW").alias("priority"),
            )
        )
    )
    oldx = old.select(
        F.col("k").alias("_ok"),
        F.col("status").alias("_os"),
        F.col("priority").alias("_op"),
    )
    j = new.join(oldx, F.col("k") == F.col("_ok"), "full_outer")
    change = (
        F.when(F.col("_ok").isNull(), "added")
        .when(F.col("k").isNull(), "removed")
        .when(
            ~F.col("_os").eqNullSafe(F.col("status"))
            | ~F.col("_op").eqNullSafe(F.col("priority")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce(F.col("k"), F.col("_ok")).alias("k"),
        change.alias("change"),
    )


@query(
    "join-range-bucketed",
    oracle=f"""
    WITH bands(lo, hi, band) AS (VALUES {_BANDS_SQL})
    SELECT b.band, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN bands b
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band
    """,
)
def join_range_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / bucketed range — the NON-broadcast range join (interval
    set too big for a broadcast NLJ at scale): both sides bucket on
    floor(value/width), meet in an equi-join, precise filter after.
    Same result as join-range-bands, different physical shape — the
    oracle is identical, which is the point."""
    li = table(spark, sf_dir, "lineitem").select("l_quantity")
    bands = spark.sql(
        f"SELECT * FROM (VALUES {_BANDS_SQL}) AS bands(lo, hi, band)"
    )
    joined = joins.range_join_bucketed(
        li, bands, "l_quantity", bucket_width=10.0
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "agg-avg-of-sums",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS cust_total
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    )
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(cust_total AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) AS avg_cust_total
    FROM per_cust GROUP BY c_mktsegment
    """,
)
def agg_avg_of_sums_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / two-level — average customer lifetime value per segment
    (avg of per-customer sums): the aggregation-of-aggregation shape a
    single GROUP BY can't express. Both levels decimal-exact; the
    inner grouping reuses the same hash partitioning (segment rides
    along the custkey grouping, no second wide shuffle)."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("cust_total")
        )
    )
    return per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.sum(F.col("cust_total").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_cust_total"),
    )


@query(
    "dq-constraint-check",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM events WHERE value IS NULL) AS null_value,
      (SELECT COUNT(*) FROM events WHERE value < 0.0) AS negative_value,
      (SELECT COUNT(*) FROM lineitem
       WHERE l_discount < 0.0 OR l_discount > 1.0) AS bad_discount,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey))
        AS orphan_orders,
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_lineitems
    """,
)
def dq_constraint_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality / constraint suite — null / range / referential-
    integrity violation counts in one result row (the dbt-style test
    pass, engine-side: conditional aggregates for row predicates,
    anti-join counts for foreign keys)."""
    ev = table(spark, sf_dir, "events")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    row_checks = ev.agg(
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_value"),
        F.count(F.when(F.col("value") < 0.0, 1)).alias("negative_value"),
    )
    disc = li.agg(
        F.count(
            F.when((F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0), 1)
        ).alias("bad_discount")
    )
    orphan_o = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    orphan_l = (
        li.join(o.select("o_orderkey"),
                F.col("o_orderkey") == F.col("l_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    return (
        row_checks.crossJoin(disc)
        .crossJoin(orphan_o)
        .crossJoin(orphan_l)
    )


@query(
    "json-typed-parse",
    # every 9th row's props is corrupted in both engines: typed parse
    # must degrade to NULL, not fail the query
    oracle="""
    WITH p AS (
      SELECT event_id,
             CASE WHEN event_id % 9 = 0 THEN 'not-json{'
                  ELSE props END AS props2
      FROM events
    )
    SELECT event_id,
           CASE WHEN json_valid(props2)
                THEN TRY_CAST(json_extract_string(props2, '$.k') AS INT)
                ELSE NULL END AS k,
           NOT json_valid(props2) AS is_corrupt
    FROM p
    """,
)
def json_typed_parse_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json / typed parse — from_json with a declared schema over the
    props feed, corrupt rows degrading to NULL (PERMISSIVE semantics:
    bad records never kill a 100 TB scan; the is_corrupt flag routes
    them to a quarantine sink)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 9 == 0, "not-json{")
        .otherwise(F.col("props"))
        .alias("props2"),
    )
    # PERMISSIVE from_json yields a null-FIELDED struct for bad input,
    # so corruption is detected via the dedicated corrupt-record column
    parsed = ev.select(
        "event_id",
        F.from_json(
            "props2",
            "k INT, _corrupt_record STRING",
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_j"),
    )
    return parsed.select(
        "event_id",
        F.col("_j.k").alias("k"),
        F.col("_j._corrupt_record").isNotNull().alias("is_corrupt"),
    )


# ------------------------------------------------- round-6 additions


@query(
    "stats-gini-impurity",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n_c
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(SUM(n_c) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(1.0 AS DOUBLE)
             - CAST(SUM(n_c * n_c) AS DOUBLE)
               / (CAST(SUM(n_c) AS DOUBLE) * CAST(SUM(n_c) AS DOUBLE))
             AS gini
    FROM c GROUP BY user_id
    """,
)
def stats_gini_impurity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Gini impurity — per-user class diversity of event_type
    (behavioral-diversity profiling; also the split criterion of tree
    learners). Integral until one closing IEEE division, so the oracle
    is exact where entropy's log() would drift; two map-side-combined
    shuffles (see operators/agg.py:gini_impurity)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events")
    return agg.gini_impurity(ev, ["user_id"], "event_type")


@query(
    "ts-resample-ffill",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
               AS bucket,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             event_id, value
      FROM events
    ),
    lastv AS (
      SELECT user_id, bucket, value FROM (
        SELECT user_id, bucket, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, bucket
                 ORDER BY ts_s DESC, event_id DESC) AS rn
        FROM obs) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM obs GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.bucket, l.value AS v
      FROM grid g LEFT JOIN lastv l
        ON g.user_id = l.user_id AND g.bucket = l.bucket
    )
    SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value,
           v IS NOT NULL AS observed
    FROM j
    """,
)
def ts_resample_ffill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries / resample + forward fill — each user's event stream
    snapped onto an hourly grid with gaps carried forward (the
    feature-store regularization step before any ML join). Grid is
    generated executor-side per key; see operators/window.py:
    resample_ffill for the 4-stage single-key-shuffle plan."""
    from medallion_delta_lake_spark.operators.window import resample_ffill

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    return resample_ffill(
        ev, ["user_id"], "ts_s", "event_id", "value", step_s=3600
    )


@query(
    "window-anomaly-zscore",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, value,
        COUNT(value) OVER win AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER win AS DOUBLE)
          AS s1,
        CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER win
          AS DOUBLE) AS s2
      FROM events
      WINDOW win AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT event_id, user_id, value,
        CASE WHEN cnt >= 10
              AND sqrt(greatest(
                    s2 / cnt - (s1 / cnt) * (s1 / cnt), 0.0)) > 0
             THEN (value - s1 / cnt)
                  / sqrt(greatest(
                      s2 / cnt - (s1 / cnt) * (s1 / cnt), 0.0))
        END AS zscore
      FROM w
    )
    SELECT event_id, user_id, value, zscore,
           abs(zscore) > CAST(2.0 AS DOUBLE) AS is_anomaly
    FROM z
    """,
)
def window_anomaly_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / rolling z-score anomaly flag — each event's value
    scored against its user's trailing 10 observations (monitoring /
    outlier-quarantine primitive). Trailing frame excludes the current
    row so a spike can't mask itself; decimal-accumulated Σx and Σx²
    keep the oracle exact (operators/window.py:rolling_zscore)."""
    from medallion_delta_lake_spark.operators.window import rolling_zscore

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_zscore(
        ev, ["user_id"], ["ts", "event_id"], "value", n=10, threshold=2.0
    ).drop("ts")


def _pagerank_oracle(damping: float = 0.85, iters: int = 3) -> str:
    """Unrolled fixed-iteration PageRank as CTE chain (the SQL twin of
    operators/graph.py:pagerank — same decimal contribution sums, same
    IEEE closing arithmetic)."""
    d = f"CAST({damping} AS DOUBLE)"
    parts = [
        """
    WITH edges AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      GROUP BY c.c_nationkey, s.s_nationkey
    ),
    nodes AS (
      SELECT DISTINCT id FROM (
        SELECT src AS id FROM edges
        UNION ALL SELECT dst AS id FROM edges)
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
      FROM edges GROUP BY src
    ),
    e AS (SELECT edges.*, outw.out_w FROM edges JOIN outw USING (src)),
    r0 AS (
      SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn
    )"""
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
    c{i} AS (
      SELECT e.dst AS id,
             CAST(SUM(CAST({prev}.rank * CAST(e.w AS DOUBLE)
                 / CAST(e.out_w AS DOUBLE) AS DECIMAL(38,12)))
               AS DOUBLE) AS s
      FROM e JOIN {prev} ON e.src = {prev}.id
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT nodes.id,
             (CAST(1.0 AS DOUBLE) - {d}) / nn.n
               + {d} * COALESCE(c{i}.s, CAST(0.0 AS DOUBLE)) AS rank
      FROM nodes LEFT JOIN c{i} ON nodes.id = c{i}.id, nn
    )"""
        )
        prev = f"r{i}"
    parts.append(
        f"""
    SELECT r.id AS nationkey, n.n_name, r.rank
    FROM {prev} r JOIN nation n ON n.n_nationkey = r.id"""
    )
    return "".join(parts)


@query("graph-pagerank-nations", oracle=_pagerank_oracle())
def graph_pagerank_nations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / fixed-iteration weighted PageRank over the nation trade
    graph (edges: customer nation → supplier nation, weighted by
    lineitem count) — 'which nations sit at the center of the supply
    network'. Each iteration is one edges⋈ranks equi-join + one
    decimal-summed partial agg (operators/graph.py:pagerank); the
    oracle unrolls the same three iterations as a CTE chain."""
    from medallion_delta_lake_spark.operators.graph import pagerank

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            c["c_nationkey"].alias("src"),
            s["s_nationkey"].alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    ranks = pagerank(edges, src="src", dst="dst", weight="w", iters=3)
    return ranks.join(
        F.broadcast(n), ranks["id"] == n["n_nationkey"]
    ).select(
        F.col("id").alias("nationkey"), "n_name", "rank"
    )


@query(
    "join-interval-overlap",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    hi AS (
      SELECT user_id, event_id AS l_event_id,
             ts_s AS l_start, ts_s + 7200 AS l_end
      FROM ev WHERE value > CAST(100.0 AS DOUBLE)
    ),
    act AS (
      SELECT user_id, event_id AS r_event_id,
             ts_s AS r_start, ts_s + 1800 AS r_end
      FROM ev
    ),
    pairs AS (
      SELECT h.user_id, h.l_event_id, a.r_event_id
      FROM hi h JOIN act a ON h.user_id = a.user_id
       AND h.l_start < a.r_end AND a.r_start < h.l_end
    )
    SELECT user_id, l_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(MIN(r_event_id) AS BIGINT) AS first_overlap_id
    FROM pairs GROUP BY user_id, l_event_id
    """,
)
def join_interval_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / interval overlap — per user, each high-value event's 2 h
    influence window paired against every 30 min activity window it
    overlaps (the attribution/blast-radius join). Bucketed-grid
    equi-join, NOT a cross join: candidates meet per (user, hour
    bucket) and duplicates die by first-shared-bucket predicate
    (operators/joins.py:interval_overlap_join); the oracle is the
    naive inequality join."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    hi = ev.filter(F.col("value") > 100.0).select(
        "user_id",
        F.col("event_id").alias("l_event_id"),
        F.col("ts_s").alias("l_start"),
        (F.col("ts_s") + 7200).alias("l_end"),
    )
    act = ev.select(
        "user_id",
        F.col("event_id").alias("r_event_id"),
        F.col("ts_s").alias("r_start"),
        (F.col("ts_s") + 1800).alias("r_end"),
    )
    pairs = joins.interval_overlap_join(
        hi, act, "l_start", "l_end", "r_start", "r_end",
        on=["user_id"], bucket_width=3600.0,
    )
    return pairs.groupBy("user_id", "l_event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        F.min("r_event_id").cast("bigint").alias("first_overlap_id"),
    )


@query(
    "agg-mode-exact",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    r AS (
      SELECT user_id, event_type, n,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY n DESC, event_type ASC) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_value,
           CAST(n AS BIGINT) AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / exact mode — each user's most frequent event type with a
    deterministic tie-break (F.mode's tie winner is partition-order-
    dependent, hence irreproducible). Raw rows shuffle once with
    map-side combine; the rank window runs over the small count table
    (operators/agg.py:mode_exact)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events")
    return agg.mode_exact(ev, ["user_id"], "event_type")


@query(
    "window-ewma-smooth",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, value,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
      FROM events
    )
    SELECT event_id, user_id, value,
           list_reduce(vals, (acc, x) ->
             CAST(0.25 AS DOUBLE) * x + CAST(0.75 AS DOUBLE) * acc)
             AS ewma
    FROM w
    """,
)
def window_ewma_smooth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / EWMA smoothing — per-user exponential moving average
    of event values (α = 0.25), the recursion expressed as a bounded-
    frame sequential fold (16 values ≈ weight decay to 1%), engine-
    exact against DuckDB's list_reduce over the same frame
    (operators/window.py:ewma_smooth)."""
    from medallion_delta_lake_spark.operators.window import ewma_smooth

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return ewma_smooth(
        ev, ["user_id"], ["ts", "event_id"], "value",
        alpha=0.25, lookback=16,
    ).drop("ts")


@query(
    "agg-weighted-median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
               PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT l_returnflag, MIN(v) AS wmedian
    FROM c WHERE cum * 2 >= total GROUP BY l_returnflag
    """,
)
def agg_weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / exact weighted median — quantity-weighted median price
    per return flag (type-1: smallest value whose cumulative weight
    reaches half the total). Decimal cumsums make the crossing
    engine-exact even under equal-value ties
    (operators/agg.py:weighted_median)."""
    from medallion_delta_lake_spark.operators import agg

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return agg.weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    )


@query(
    "stats-ks-two-sample",
    oracle="""
    WITH pv AS (
      SELECT value AS _v,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS _a,
             SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS _b
      FROM events GROUP BY value
    ),
    t AS (
      SELECT CAST(SUM(_a) AS BIGINT) AS n_true,
             CAST(SUM(_b) AS BIGINT) AS n_false FROM pv
    ),
    c AS (
      SELECT SUM(_a) OVER w AS _ca, SUM(_b) OVER w AS _cb FROM pv
      WINDOW w AS (ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    g AS (
      SELECT n_true, n_false,
             abs(CAST(_ca AS DOUBLE) / CAST(n_true AS DOUBLE)
                 - CAST(_cb AS DOUBLE) / CAST(n_false AS DOUBLE)) AS gap
      FROM c, t
    )
    SELECT MAX(gap) AS ks_stat, n_true, n_false
    FROM g GROUP BY n_true, n_false
    """,
)
def stats_ks_two_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / two-sample Kolmogorov–Smirnov — largest empirical-CDF
    gap between click events' values and everything else (the drift
    detector between two data slices). Integral cumulative counts,
    one IEEE division per distinct value
    (operators/agg.py:ks_two_sample)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "click").alias("is_click")
    )
    return agg.ks_two_sample(ev, "value", "is_click")


@query(
    "stats-chi-square",
    oracle="""
    WITH observed AS (
      SELECT CAST(user_id % 3 AS INT) AS _r, event_type AS _c,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT _r, SUM(o) AS rt FROM observed GROUP BY _r),
    ct AS (SELECT _c, SUM(o) AS ct FROM observed GROUP BY _c),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             COUNT(DISTINCT _r) AS nr, COUNT(DISTINCT _c) AS nc
      FROM observed
    ),
    cells AS (
      SELECT rt._r, ct._c, rt.rt, ct.ct, COALESCE(observed.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN observed
        ON rt._r = observed._r AND ct._c = observed._c
    ),
    e AS (
      SELECT n, nr, nc,
             (CAST(o AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(n AS DOUBLE)) AS diff,
             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
               / CAST(n AS DOUBLE) AS expd
      FROM cells, tot
    )
    SELECT CAST(SUM(CAST(diff * diff / expd AS DECIMAL(38,12)))
             AS DOUBLE) AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           n
    FROM e GROUP BY n, nr, nc
    """,
)
def stats_chi_square_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Pearson χ² independence — user segment (id mod 3) vs
    event type (the does-cohort-predict-behavior check). Integral
    observed counts, one division per expected cell, diff·diff instead
    of pow (pow is not correctly-rounded IEEE), decimal cell sum
    (operators/agg.py:chi_square_independence)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).cast("int").alias("segment"),
        "event_type",
    )
    return agg.chi_square_independence(ev, "segment", "event_type")


@query(
    "agg-percentile-bands",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
      MIN(CASE WHEN rn = CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT)
               THEN v END) AS p25,
      MIN(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
               THEN v END) AS p50,
      MIN(CASE WHEN rn = CAST(ceil(CAST(0.75 AS DOUBLE) * n) AS BIGINT)
               THEN v END) AS p75,
      MIN(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT)
               THEN v END) AS p95
    FROM r GROUP BY l_returnflag
    """,
)
def agg_percentile_bands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / exact percentile bands — p25/p50/p75/p95 of price per
    return flag in ONE per-group sort (k-th order statistics at
    ⌈p·n⌉; deterministic under ties). The exact counterpart of the
    approx-quantile sketch (operators/agg.py:percentile_bands)."""
    from medallion_delta_lake_spark.operators import agg

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return agg.percentile_bands(
        li, ["l_returnflag"], "l_extendedprice", (0.25, 0.5, 0.75, 0.95)
    )


@query(
    "join-asof-forward",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS user_id,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts_s,
             CAST(floor(epoch(o_orderdate)) AS BIGINT)
               AS next_order_ts_s,
             MAX(o_totalprice) AS next_order_total
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
           r.next_order_ts_s, r.next_order_total
    FROM events e
    ASOF LEFT JOIN r ON e.user_id = r.user_id
     AND CAST(floor(epoch(e.ts)) AS BIGINT) <= r.order_ts_s
    """,
)
def join_asof_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / forward as-of — the EARLIEST order at-or-after each
    event, per user ("next purchase after this touchpoint": the
    attribution mirror of the point-in-time lookup). Same
    union-window machinery as the backward as-of, run on negated
    timestamps (operators/joins.py:asof_join_forward); DuckDB's ASOF
    handles the <= direction natively."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    orders = table(spark, sf_dir, "orders")
    r = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.unix_timestamp("o_orderdate").alias("order_ts_s"),
        )
        .agg(F.max("o_totalprice").alias("next_order_total"))
        .withColumn("next_order_ts_s", F.col("order_ts_s"))
    )
    return joins.asof_join_forward(
        ev,
        r,
        ["user_id"],
        "ts_s",
        "order_ts_s",
        ["next_order_ts_s", "next_order_total"],
    )


@query(
    "window-streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY d) AS island
      FROM days
    ),
    per AS (
      SELECT user_id, island, COUNT(*) AS len, MAX(d) AS e
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(MAX(e) AS BIGINT) AS current_streak_end
    FROM per GROUP BY user_id
    """,
)
def window_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / activity streaks — per-user consecutive-active-day
    runs via the gaps-and-islands identity (day − rank is constant
    within a run): active days, streak count, longest streak, last
    streak's closing day. The retention-dashboard engagement metric,
    all integer arithmetic
    (operators/window.py:streaks)."""
    from medallion_delta_lake_spark.operators.window import streaks

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
    )
    return streaks(ev, ["user_id"], "day")


@query(
    "stats-mann-whitney-u",
    oracle="""
    WITH pv AS (
      SELECT value AS _v,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS _a,
             SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS _b
      FROM events GROUP BY value
    ),
    rk AS (
      SELECT _a, _b,
             CAST(COALESCE(SUM(_a + _b) OVER (
               ORDER BY _v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DOUBLE)
             + CAST(_a + _b + 1 AS DOUBLE) / CAST(2.0 AS DOUBLE)
               AS midrank
      FROM pv
    ),
    s AS (
      SELECT CAST(SUM(CAST(CAST(_a AS DOUBLE) * midrank
                    AS DECIMAL(38,6))) AS DOUBLE) AS ra,
             CAST(SUM(_a) AS BIGINT) AS n_true,
             CAST(SUM(_b) AS BIGINT) AS n_false
      FROM rk
    )
    SELECT ra - CAST(n_true AS DOUBLE) * CAST(n_true + 1 AS DOUBLE)
             / CAST(2.0 AS DOUBLE) AS u_true,
           CAST(n_true AS DOUBLE) * CAST(n_false AS DOUBLE)
             - (ra - CAST(n_true AS DOUBLE) * CAST(n_true + 1 AS DOUBLE)
                  / CAST(2.0 AS DOUBLE)) AS u_false,
           n_true, n_false
    FROM s
    """,
)
def stats_mann_whitney_u_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Mann–Whitney U — rank-sum drift test between click
    events' values and the rest (the shape-free location test next to
    KS). Midrank tie handling in exact halves, decimal rank-sum
    (operators/agg.py:mann_whitney_u)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "click").alias("is_click")
    )
    return agg.mann_whitney_u(ev, "value", "is_click")


@query(
    "join-asof-nearest-abs",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS user_id,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts_s,
             MAX(o_totalprice) AS order_total
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    ev AS (
      SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
      FROM events
    ),
    back AS (
      SELECT e.event_id, e.user_id, e.ts_s,
             r.order_ts_s AS prev_ts, r.order_total AS prev_total
      FROM ev e ASOF LEFT JOIN r
        ON e.user_id = r.user_id AND e.ts_s >= r.order_ts_s
    ),
    paired AS (
      SELECT b.event_id, b.user_id, b.ts_s, b.prev_ts, b.prev_total,
             r.order_ts_s AS next_ts, r.order_total AS next_total
      FROM back b ASOF LEFT JOIN r
        ON b.user_id = r.user_id AND b.ts_s <= r.order_ts_s
    )
    SELECT event_id, user_id, ts_s,
      CASE WHEN prev_ts IS NULL THEN next_ts
           WHEN next_ts IS NULL THEN prev_ts
           WHEN ts_s - prev_ts <= next_ts - ts_s THEN prev_ts
           ELSE next_ts END AS nearest_ts,
      CASE WHEN prev_ts IS NULL THEN next_total
           WHEN next_ts IS NULL THEN prev_total
           WHEN ts_s - prev_ts <= next_ts - ts_s THEN prev_total
           ELSE next_total END AS nearest_total
    FROM paired
    """,
)
def join_asof_nearest_abs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / nearest-in-time as-of — the order CLOSEST to each event
    in either direction (ties to the earlier side): one backward and
    one forward as-of chained, then a per-row CASE — two narrow
    union-window passes, never a range join. The event-to-context
    alignment when delays run both ways (operators/joins.py:asof_join
    + asof_join_forward)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    orders = table(spark, sf_dir, "orders")
    r = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("order_ts_s"),
    ).agg(F.max("o_totalprice").alias("order_total"))
    back = joins.asof_join(
        ev,
        r.select(
            "user_id",
            "order_ts_s",
            F.col("order_ts_s").alias("prev_ts"),
            F.col("order_total").alias("prev_total"),
        ),
        ["user_id"],
        "ts_s",
        "order_ts_s",
        ["prev_ts", "prev_total"],
    )
    both = joins.asof_join_forward(
        back,
        r.select(
            "user_id",
            "order_ts_s",
            F.col("order_ts_s").alias("next_ts"),
            F.col("order_total").alias("next_total"),
        ),
        ["user_id"],
        "ts_s",
        "order_ts_s",
        ["next_ts", "next_total"],
    )
    prev_closer = (
        F.col("prev_ts").isNotNull()
        & (
            F.col("next_ts").isNull()
            | (
                F.col("ts_s") - F.col("prev_ts")
                <= F.col("next_ts") - F.col("ts_s")
            )
        )
    )
    return both.select(
        "event_id",
        "user_id",
        "ts_s",
        F.when(prev_closer, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
        .alias("nearest_ts"),
        F.when(prev_closer, F.col("prev_total"))
        .otherwise(F.col("next_total"))
        .alias("nearest_total"),
    )


@query(
    "window-ohlc-bars",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
               AS bucket,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             event_id, value
      FROM events
    ),
    rk AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                           ORDER BY ts_s ASC, event_id ASC) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                           ORDER BY ts_s DESC, event_id DESC) AS rn_d
      FROM e
    )
    SELECT user_id, bucket,
           MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS volume
    FROM rk GROUP BY user_id, bucket
    """,
)
def window_ohlc_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / OHLC bars — hourly open/high/low/close/volume per user
    (the candlestick downsampling every time-series store ships;
    open/close by deterministic first/last ordering, not
    partition-order-dependent first()/last() aggregates). One keyed
    sort computes both rank directions; decimal volume."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    bucket = (F.floor(F.col("ts_s") / 3600) * 3600).cast("bigint")
    w_a = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts_s").asc(), F.col("event_id").asc()
    )
    w_d = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts_s").desc(), F.col("event_id").desc()
    )
    rk = ev.withColumn("bucket", bucket).select(
        "user_id",
        "bucket",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return rk.groupBy("user_id", "bucket").agg(
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("volume"),
    )


@query(
    "events-markov-transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    t AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (SELECT prev_type, SUM(n) AS n_from FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS p
    FROM t JOIN tot ON t.prev_type = tot.prev_type
    """,
)
def events_markov_transitions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / Markov transition matrix — event-type bigram counts
    and per-from-state probabilities over each user's ordered stream
    (the user-journey model behind next-action prediction and funnel
    anomaly detection). One keyed sort for the lag, integral counts,
    one closing division."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = t.groupBy(F.col("prev_type").alias("_pt")).agg(
        F.sum("n").alias("n_from")
    )
    return t.join(
        F.broadcast(tot), t["prev_type"] == tot["_pt"]
    ).select(
        "prev_type",
        "next_type",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias(
            "p"
        ),
    )


@query(
    "stats-cramers-v",
    oracle="""
    WITH observed AS (
      SELECT CAST(user_id % 3 AS INT) AS _r, event_type AS _c,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT _r, SUM(o) AS rt FROM observed GROUP BY _r),
    ct AS (SELECT _c, SUM(o) AS ct FROM observed GROUP BY _c),
    tot AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n,
             COUNT(DISTINCT _r) AS nr, COUNT(DISTINCT _c) AS nc
      FROM observed
    ),
    cells AS (
      SELECT rt._r, ct._c, rt.rt, ct.ct, COALESCE(observed.o, 0) AS o
      FROM rt CROSS JOIN ct
      LEFT JOIN observed
        ON rt._r = observed._r AND ct._c = observed._c
    ),
    e AS (
      SELECT n, nr, nc,
             (CAST(o AS DOUBLE)
              - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(n AS DOUBLE)) AS diff,
             CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
               / CAST(n AS DOUBLE) AS expd
      FROM cells, tot
    ),
    x AS (
      SELECT CAST(SUM(CAST(diff * diff / expd AS DECIMAL(38,12)))
               AS DOUBLE) AS chi2, n, nr, nc
      FROM e GROUP BY n, nr, nc
    )
    SELECT sqrt(chi2 / (CAST(n AS DOUBLE)
             * CAST(least(nr - 1, nc - 1) AS DOUBLE))) AS cramers_v,
           chi2, n
    FROM x
    """,
)
def stats_cramers_v_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Cramér's V — the [0, 1] effect size of the χ²
    association (χ² itself grows with n; V is the comparable-across-
    tables strength). Composes the χ² operator with one sqrt
    (correctly-rounded IEEE) — same grid-completed contingency core
    (operators/agg.py:chi_square_independence)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 3).cast("int").alias("segment"),
        "event_type",
    )
    chi = agg.chi_square_independence(ev, "segment", "event_type")
    # dof = (nr-1)(nc-1); min(nr-1, nc-1) recovered via the marginals
    ev2 = ev.agg(
        F.countDistinct("segment").alias("_nr"),
        F.countDistinct("event_type").alias("_nc"),
    )
    return chi.crossJoin(F.broadcast(ev2)).select(
        F.sqrt(
            F.col("chi2")
            / (
                F.col("n").cast("double")
                * F.least(F.col("_nr") - 1, F.col("_nc") - 1).cast(
                    "double"
                )
            )
        ).alias("cramers_v"),
        "chi2",
        "n",
    )


@query(
    "window-max-drawdown",
    oracle="""
    WITH w AS (
      SELECT user_id, value,
             MAX(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - value AS dd
      FROM events
    )
    SELECT user_id,
           MAX(dd) AS max_drawdown,
           MAX(value) AS peak,
           COUNT(*) AS n_points
    FROM w GROUP BY user_id
    """,
)
def window_max_drawdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / maximum drawdown — largest peak-to-trough drop of each
    user's ``value`` series in event order (the PnL/metric-regression
    risk gauge). Running cumulative MAX + ONE exact IEEE subtraction
    per row (no accumulation → engine-stable doubles), one grouped
    MAX; ordering made total by the (ts, event_id) tie-break. One
    shuffle on the key, one sort — the per-key series never leaves
    its partition (operators/window.py:max_drawdown)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return window.max_drawdown(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        val_col="value",
    )


@query(
    "stats-spearman-rho",
    # doubled midranks keep every rank integral (midrank of a tie run
    # is a .5 — ×2 stays exact); sums in DECIMAL(38,0), one double
    # division + two sqrt at the close (correctly-rounded IEEE)
    oracle="""
    WITH fx AS (
      SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem GROUP BY 1
    ),
    rx AS (
      SELECT v,
             CAST(2 * COALESCE(SUM(c) OVER (
                    ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) + c + 1 AS BIGINT) AS d
      FROM fx
    ),
    fy AS (
      SELECT l_discount AS v, COUNT(*) AS c FROM lineitem GROUP BY 1
    ),
    ry AS (
      SELECT v,
             CAST(2 * COALESCE(SUM(c) OVER (
                    ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), 0) + c + 1 AS BIGINT) AS d
      FROM fy
    ),
    j AS (
      SELECT rx.d AS dx, ry.d AS dy
      FROM lineitem l
      JOIN rx ON l.l_quantity = rx.v
      JOIN ry ON l.l_discount = ry.v
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM j
    )
    SELECT n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS spearman_rho
    FROM s
    """,
)
def stats_spearman_rho_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Spearman rank correlation — the monotone-association
    twin of Pearson r (robust to outliers and nonlinearity; the
    feature-screening staple). Midranks with exact tie handling via
    VALUE-FREQUENCY rank maps: both columns have bounded distinct
    values, so the global ranking that normally needs a total sort
    collapses to a tiny frequency table + cumulative count, broadcast
    back onto the fact rows — the fact table never sorts and never
    shuffles on value (the 100 TB shape; a continuous-valued column
    would need a range-partitioned two-pass rank instead). Doubled
    midranks stay integral, sums are DECIMAL(38,0)-exact, and the
    close is one division + two sqrt — engine-identical."""
    li = table(spark, sf_dir, "lineitem")

    def rank_map(col: str):
        freq = li.groupBy(F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        cum = F.coalesce(
            F.sum("_c").over(
                Window.orderBy("_v").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        # doubled midrank: 2·(rows before + 1) + (ties − 1) = 2·cum + c + 1
        return freq.select(
            "_v",
            (2 * cum + F.col("_c") + 1).cast("bigint").alias("_d"),
        )

    rx = rank_map("l_quantity").withColumnsRenamed(
        {"_v": "_vx", "_d": "dx"}
    )
    ry = rank_map("l_discount").withColumnsRenamed(
        {"_v": "_vy", "_d": "dy"}
    )
    j = (
        li.select("l_quantity", "l_discount")
        .join(F.broadcast(rx), F.col("l_quantity") == F.col("_vx"))
        .join(F.broadcast(ry), F.col("l_discount") == F.col("_vy"))
    )

    def ds(c):
        return F.sum(c.cast("decimal(38,0)")).cast("double")

    dx, dy = F.col("dx"), F.col("dy")
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        ds(dx).alias("sx"),
        ds(dy).alias("sy"),
        ds(dx * dy).alias("sxy"),
        ds(dx * dx).alias("sxx"),
        ds(dy * dy).alias("syy"),
    )
    n = F.col("n").cast("double")
    return s.select(
        "n",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("spearman_rho"),
    )


@query(
    "stats-welch-t",
    # identical op tree to the Spark side: decimal-exact sums, then a
    # fixed chain of IEEE divisions + one sqrt (correctly rounded)
    oracle="""
    WITH s AS (
      SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n1,
             COUNT(CASE WHEN NOT (event_type = 'click') THEN 1 END) AS n2,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN NOT (event_type = 'click')
                  THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) AS s2,
             CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(value * value AS DECIMAL(38,6)) END)
                  AS DOUBLE) AS q1,
             CAST(SUM(CASE WHEN NOT (event_type = 'click')
                  THEN CAST(value * value AS DECIMAL(38,6)) END)
                  AS DOUBLE) AS q2
      FROM events WHERE value IS NOT NULL
    ),
    e AS (
      SELECT CAST(n1 AS BIGINT) AS n_true, CAST(n2 AS BIGINT) AS n_false,
             (n1 * q1 - s1 * s1) / (n1 * (n1 - 1.0)) / n1 AS se1,
             (n2 * q2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2 AS se2,
             s1 / n1 AS m1, s2 / n2 AS m2, n1, n2
      FROM s
    )
    SELECT (m1 - m2) / sqrt(se1 + se2) AS t_stat,
           ((se1 + se2) * (se1 + se2))
             / ((se1 * se1) / (n1 - 1.0) + (se2 * se2) / (n2 - 1.0))
             AS dof,
           n_true, n_false
    FROM e
    """,
)
def stats_welch_t_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Welch's unequal-variance t — mean-shift drift between
    click and non-click event values, completing the drift-test
    family (KS = distribution shape, Mann–Whitney = rank order,
    Welch = mean). One grouped pass with map-side combine produces
    decimal-exact per-population Σx/Σx²; the statistic and the
    Welch–Satterthwaite dof close in a fixed IEEE expression tree —
    engine-exact, no float accumulation anywhere
    (operators/agg.py:welch_t)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select(
        "value", (F.col("event_type") == "click").alias("is_click")
    )
    return agg.welch_t(ev, "value", "is_click")


@query(
    "window-cusum-drift",
    # same op tree as the Spark side: decimal-exact global mean, two
    # cumulative windows sharing one (key, ts) sort, decimal prefix
    # arithmetic, one closing double cast
    oracle="""
    WITH tgt AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(value) AS mu
      FROM events WHERE value IS NOT NULL
    ),
    p AS (
      SELECT user_id, ts, event_id,
             SUM(CAST(value - mu AS DECIMAL(38,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS pfx
      FROM events, tgt
    ),
    s AS (
      SELECT user_id,
             -- CASE, not least(): DuckDB's least() promotes
             -- DECIMAL(38,6) to DOUBLE, breaking decimal exactness
             pfx - (CASE WHEN MIN(pfx) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW
                    ) > CAST(0 AS DECIMAL(38,6))
                    THEN CAST(0 AS DECIMAL(38,6))
                    ELSE MIN(pfx) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW
                    ) END) AS exc
      FROM p
    )
    SELECT user_id,
           CAST(greatest(MAX(exc), CAST(0 AS DECIMAL(38,6)))
                AS DOUBLE) AS cusum_max,
           COUNT(*) AS n_points
    FROM s GROUP BY user_id
    """,
)
def window_cusum_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / one-sided CUSUM drift — the change-point control chart
    max_i of S_i = max(0, S_{i-1} + (x_i − μ)), S_0 = 0, per user, flagging a sustained
    upward shift of event values from the corpus mean. The recursion
    collapses to a CLOSED FORM over prefix sums (S_i = P_i − min(0, min_{j≤i} P_j)), so two cumulative windows sharing ONE (key, ts) sort replace
    a sequential fold; prefix sums accumulate in DECIMAL(38,6) —
    engine-exact (operators/window.py:cusum_drift)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).filter(F.col("value").isNotNull())
    mu = ev.agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("value")
        ).alias("_mu")
    )
    withmu = ev.crossJoin(F.broadcast(mu))
    return window.cusum_drift(
        withmu,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        val_col="value",
        target=F.col("_mu"),
    )


@query(
    "join-asof-tolerance",
    oracle="""
    WITH r AS (
      SELECT o_custkey AS user_id,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_ts_s,
             MAX(o_totalprice) AS order_total
      FROM orders GROUP BY 1, 2
    ),
    a AS (
      SELECT e.event_id, e.user_id,
             CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
             r.order_ts_s, r.order_total
      FROM events e
      ASOF LEFT JOIN r
        ON e.user_id = r.user_id
       AND CAST(floor(epoch(e.ts)) AS BIGINT) >= r.order_ts_s
    )
    SELECT event_id, user_id, ts_s,
           CASE WHEN order_ts_s IS NULL
                  OR ts_s - order_ts_s > 2592000
                THEN NULL ELSE order_total END AS order_total
    FROM a
    """,
)
def join_asof_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / as-of with max staleness — the feature-store
    point-in-time contract: each event takes its user's latest order
    total, but a match older than 30 days is as good as none (stale
    features must read NULL, not silently serve). Same union-window
    plan as join-asof-nearest, plus one carried timestamp and one
    null-out projection; DuckDB ASOF + CASE oracle
    (operators/joins.py:asof_join_tolerance)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    orders = table(spark, sf_dir, "orders")
    right = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.unix_timestamp("o_orderdate").alias("order_ts_s"),
    ).agg(F.max("o_totalprice").alias("order_total"))
    return joins.asof_join_tolerance(
        ev,
        right,
        keys=["user_id"],
        left_ts="ts_s",
        right_ts="order_ts_s",
        payload_cols=["order_total"],
        tolerance=F.lit(2592000),
    )


@query(
    "stats-autocorr-lag1",
    oracle="""
    WITH p AS (
      SELECT user_id, value AS x,
             LAG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS y
      FROM events
    ),
    q AS (
      SELECT user_id, x, y FROM p
      WHERE x IS NOT NULL AND y IS NOT NULL
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM q GROUP BY user_id
    )
    SELECT user_id, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS autocorr_lag1
    FROM s WHERE n >= 2
    """,
)
def stats_autocorr_lag1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / lag-1 autocorrelation per user — the serial-dependence
    diagnostic (is each user's value series momentum-driven or
    white?): Pearson r between the series and its one-step lag, pairs
    built by one lag window on the per-user sort, moments from
    DECIMAL(38,6)-exact sums (the stats-corr contract applied to
    lagged pairs). One keyed sort + one grouped pass."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").alias("x")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", "x", F.lag("x").over(w).alias("y")
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def ds(c):
        return F.sum(c.cast("decimal(38,6)")).cast("double")

    x, y = F.col("x"), F.col("y")
    s = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        ds(x).alias("sx"),
        ds(y).alias("sy"),
        ds(x * y).alias("sxy"),
        ds(x * x).alias("sxx"),
        ds(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    return s.filter(F.col("n") >= 2).select(
        "user_id",
        "n",
        (
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("autocorr_lag1"),
    )


@query(
    "graph-triangle-count",
    oracle="""
    WITH raw AS (
      SELECT l_orderkey % 20000 AS p, l_partkey % 20000 AS q
      FROM lineitem
    ),
    e AS (
      SELECT DISTINCT least(p, q) AS u, greatest(p, q) AS v
      FROM raw WHERE least(p, q) < greatest(p, q)
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    s AS (SELECT COUNT(*) AS n_edges FROM e),
    vv AS (
      SELECT COUNT(*) AS n_vertices FROM (
        SELECT u AS x FROM e UNION SELECT v AS x FROM e
      )
    )
    SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_vertices AS BIGINT) AS n_vertices
    FROM tri, s, vv
    """,
)
def graph_triangle_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / exact triangle count — the clustering-coefficient core
    and the classic test of whether a join engine can do graphs:
    canonicalized ordered edges, a two-hop wedge join built only at
    each wedge's smallest endpoint (the ordering predicate is what
    stops high-degree vertices exploding), probed against the edge
    set. Graph = hash-projected order↔part incidence from lineitem
    (bounded 20000-node id space keeps avg degree ~30 at sf0.1 — wedge count, the cost driver, stays quadratic in DEGREE, not nodes). Three
    int-keyed shuffles, no adjacency collect
    (operators/graph.py:triangle_count)."""
    from medallion_delta_lake_spark.operators.graph import triangle_count

    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 20000).alias("a"),
        (F.col("l_partkey") % 20000).alias("b"),
    )
    return triangle_count(li, "a", "b")


@query(
    "merge-clause-state",
    # first-true ordering replicated: delete clause tested before the
    # VIP update, by-source fallback for customers with no orders
    oracle="""
    WITH src AS (
      SELECT o_custkey AS c_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT d.c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL
                     AND NOT (s.n_orders = 1 AND s.total < 50000)
                     AND s.total > 400000
                THEN d.c_acctbal + 1000.0
                ELSE d.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NULL THEN 'DORMANT'
                WHEN NOT (s.n_orders = 1 AND s.total < 50000)
                     AND s.total > 400000 THEN 'VIP'
                ELSE d.c_mktsegment END AS c_mktsegment
    FROM customer d LEFT JOIN src s ON d.c_custkey = s.c_custkey
    WHERE NOT (s.c_custkey IS NOT NULL
               AND s.n_orders = 1 AND s.total < 50000)
    """,
)
def merge_clause_state_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutation / general MERGE state — the full clause surface
    (ordered first-true: conditional DELETE, then a conditional
    UPDATE mixing d and s values, then a BY-SOURCE fallback) computed
    as one declarative full-outer-join plan over customer⋈order
    totals: one-order small customers purge, >400k customers get a
    VIP bump, order-less customers flag DORMANT. The pure-state twin
    of sources/delta_log.py:merge_delta_log (same
    general_merge_state core the committed MERGE file-scopes with)."""
    from medallion_delta_lake_spark.sources.delta_log import (
        general_merge_state,
    )

    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    src = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    clauses = [
        {"when": "matched", "action": "delete",
         "condition": "s.n_orders = 1 AND s.total < 50000"},
        {"when": "matched", "action": "update",
         "condition": "s.total > 400000",
         "set": {"c_acctbal": "d.c_acctbal + 1000.0",
                 "c_mktsegment": "'VIP'"}},
        {"when": "not_matched_by_source", "action": "update",
         "set": {"c_mktsegment": "'DORMANT'"}},
    ]
    merged = general_merge_state(
        cust,
        src,
        ["c_custkey"],
        clauses,
        out_cols=["c_custkey", "c_acctbal", "c_mktsegment"],
    )
    return merged.filter(F.col("_keep")).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "agg-gini-coefficient",
    # G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx): integer ranks over the
    # sorted values, decimal-exact sums (the rank-weighted sum at
    # scale 2 — its scaled magnitude must stay far from 2^53 or the
    # double→decimal conversion rounds differently across engines),
    # ONE closing division —
    # engine-identical (ties broken by the unique order key, and the
    # identity is tie-order-invariant because equal values swap freely)
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS spend
      FROM orders GROUP BY o_custkey
    ),
    k AS (
      SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS i
      FROM r
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(spend AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(i * spend AS DECIMAL(38,2))) AS DOUBLE)
               AS six
      FROM k
    )
    SELECT CAST(n AS BIGINT) AS n,
           (2.0 * six - (n + 1.0) * sx) / (n * sx) AS gini
    FROM s
    """,
)
def agg_gini_coefficient_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Gini COEFFICIENT of customer spend — the inequality
    measure (0 = everyone equal, →1 = one whale), distinct from the
    classification Gini impurity. Closed form over the sorted series:
    G = (2Σ i·x_(i) − (n+1)Σx)/(nΣx), decimal-exact sums, one IEEE
    division. The revenue-concentration diagnostic every marketplace
    dashboard carries.

    Scale posture (r12, global-window allowlist sweep): the rank i
    over the per-customer frame is CUSTOMER-cardinality, so it never
    rides a single-partition sort — mleval.bucketed_global_rank gives
    the identical rank via a ≤16k-bucket offsets frame + distributed
    within-bucket row_number (the events-rfm-scores monetary-axis
    machinery)."""
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("spend")
        )
    )
    ranked = bucketed_global_rank(
        spend, "spend", True, "i", "o_custkey"
    ).select("spend", "i")

    def ds(c):
        return F.sum(c.cast("decimal(38,6)")).cast("double")

    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        ds(F.col("spend")).alias("sx"),
        F.sum((F.col("i") * F.col("spend")).cast("decimal(38,2)"))
        .cast("double")
        .alias("six"),
    )
    n = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        (
            (2.0 * F.col("six") - (n + 1.0) * F.col("sx"))
            / (n * F.col("sx"))
        ).alias("gini"),
    )


@query(
    "stats-benford-deviation",
    # Benford probabilities as EXACT 1e14-scaled integer literals
    # (log10(1+1/d) precomputed — no runtime log, whose last ulp
    # differs across libm); the deviation is pure int64 arithmetic
    # with one closing decimal→double cast and one division
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY digit),
    t AS (SELECT SUM(cnt) AS n FROM c),
    e AS (
      SELECT digit, cnt, n,
             CASE digit
               WHEN 1 THEN 30102999566398
               WHEN 2 THEN 17609125905568
               WHEN 3 THEN 12493873660830
               WHEN 4 THEN 9691001300806
               WHEN 5 THEN 7918124604762
               WHEN 6 THEN 6694678963061
               WHEN 7 THEN 5799194697769
               WHEN 8 THEN 5115252244738
               WHEN 9 THEN 4575749056068
             END AS p14
      FROM c, t
    )
    SELECT CAST(CAST(SUM(CAST(abs(cnt * 100000000000000 - p14 * n)
                              AS DECIMAL(38,0))) AS DOUBLE)
                / (CAST(MAX(n) AS DOUBLE) * 100000000000000.0)
                AS DOUBLE) AS total_variation,
           CAST(MAX(n) AS BIGINT) AS n
    FROM e
    """,
)
def stats_benford_deviation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Benford first-digit deviation — the classic
    fraud/data-fabrication screen: total-variation distance between
    the observed leading-digit distribution of order totals and
    Benford's law. The nine log10(1+1/d) probabilities are HARDCODED
    literals (runtime log() differs in the last ulp across libm
    implementations — the same reason the Gini/χ² family avoids it),
    so the whole statistic is grouped integer counts, one division
    per digit, and a decimal sum — engine-exact."""
    # round(log10(1+1/d) * 1e14): EXACT integer spec constants — the
    # whole statistic is then integer arithmetic up to one final
    # decimal→double cast and one division
    benford14 = {
        1: 30102999566398, 2: 17609125905568, 3: 12493873660830,
        4: 9691001300806, 5: 7918124604762, 6: 6694678963061,
        7: 5799194697769, 8: 5115252244738, 9: 4575749056068,
    }
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    # bround = HALF_EVEN, as DuckDB's CAST(DOUBLE AS BIGINT) rounds; a
    # bare cast truncates (1999.6 → leading digit 1, the oracle's 2)
    digits = o.select(
        F.substring(
            F.bround(F.col("o_totalprice"), 0).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    c = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    p14 = F.create_map(
        *[F.lit(x) for kv in benford14.items() for x in kv]
    )[F.col("digit")]
    t = c.agg(F.sum("cnt").alias("n"))
    e = c.crossJoin(F.broadcast(t)).select(
        F.abs(
            F.col("cnt") * F.lit(100_000_000_000_000) - p14 * F.col("n")
        ).alias("dev14"),
        "n",
    )
    return e.agg(
        (
            F.sum(F.col("dev14").cast("decimal(38,0)")).cast("double")
            / (F.max("n").cast("double") * F.lit(1e14))
        ).alias("total_variation"),
        F.max("n").cast("bigint").alias("n"),
    )


@query(
    "ts-seasonal-naive",
    # hour-of-day baseline = decimal-exact per-hour mean; residual is
    # one IEEE subtraction per row — the additive seasonal decompose
    oracle="""
    WITH b AS (
      SELECT CAST(extract(hour FROM ts) AS INT) AS hod,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(value) AS baseline
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_id, CAST(extract(hour FROM e.ts) AS INT) AS hod,
           e.value, b.baseline,
           e.value - b.baseline AS residual
    FROM events e JOIN b ON CAST(extract(hour FROM e.ts) AS INT) = b.hod
    WHERE e.value IS NOT NULL
    """,
)
def ts_seasonal_naive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeseries / seasonal-naive decomposition — the hour-of-day
    baseline (decimal-exact per-hour mean, 24 rows, broadcast back)
    and each event's residual: the first model every anomaly detector
    is benchmarked against, and the de-seasonalizing step before
    drift tests. One grouped pass + a broadcast join; residual is a
    single IEEE subtraction, engine-exact."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    withhod = ev.select(
        "event_id", F.hour("ts").alias("hod"), "value"
    )
    b = withhod.groupBy("hod").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count("value")
        ).alias("baseline")
    )
    return withhod.join(F.broadcast(b), "hod").select(
        "event_id",
        "hod",
        "value",
        "baseline",
        (F.col("value") - F.col("baseline")).alias("residual"),
    )


@query(
    "window-winsorize",
    # clamp to the per-type exact p05/p95 order statistics (type-1,
    # k = ceil(p·n)) — comparisons and the clamp are order operations,
    # no arithmetic at all beyond the rank window
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             event_id
      FROM events WHERE value IS NOT NULL
    ),
    cuts AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN value END) AS lo,
             MIN(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN value END) AS hi
      FROM r GROUP BY event_type
    )
    SELECT r.event_id, r.event_type, r.value,
           CASE WHEN r.value < c.lo THEN c.lo
                WHEN r.value > c.hi THEN c.hi
                ELSE r.value END AS winsorized,
           (r.value < c.lo OR r.value > c.hi) AS clamped
    FROM r JOIN cuts c ON r.event_type = c.event_type
    """,
)
def window_winsorize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / winsorization — clamp each event's value to its type's
    exact [p05, p95] order statistics (the outlier-taming step before
    means/regressions that medians can't replace). Type-1 quantiles
    at k = ⌈p·n⌉ from one rank window (ties broken by event_id, and
    the k-th sorted VALUE is tie-order-invariant); the clamp itself
    is pure comparisons — zero arithmetic, engine-exact. One keyed
    sort + a broadcast of the 2-value-per-group cut table."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select("event_id", "event_type", "value")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(W.partitionBy("event_type"))
        .alias("n"),
    )
    cuts = r.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn")
                == F.ceil(0.05 * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn")
                == F.ceil(0.95 * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        ).alias("hi"),
    )
    j = r.join(F.broadcast(cuts), "event_type")
    win = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.select(
        "event_id",
        "event_type",
        "value",
        win.alias("winsorized"),
        (
            (F.col("value") < F.col("lo"))
            | (F.col("value") > F.col("hi"))
        ).alias("clamped"),
    )


@query(
    "scd2-history-build",
    # validity intervals from the ordered change stream: valid_to =
    # next change's date (LEAD), NULL for the current row — all
    # window/ordering ops, no arithmetic
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, o_orderdate
               ORDER BY o_orderkey DESC
             ) AS rn
      FROM orders
    ),
    daily AS (SELECT * FROM ch WHERE rn = 1),
    hist AS (
      SELECT o_custkey, valid_from, o_orderpriority,
             LEAD(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY valid_from
             ) AS valid_to
      FROM daily
    )
    SELECT o_custkey, valid_from, valid_to, o_orderpriority,
           valid_to IS NULL AS is_current
    FROM hist
    """,
)
def scd2_history_build_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutation / SCD TYPE-2 history build — turn a change stream
    (here: each customer's daily order priority, latest order per day
    winning deterministically) into validity intervals
    [valid_from, valid_to) with an ``is_current`` flag: the dimension-
    history table every warehouse keeps, and the right-hand side a
    point-in-time (as-of) fact join consumes. One keyed window for
    the daily winner, one LEAD window for the interval close — pure
    ordering ops, engine-exact. At 100 TB both windows shuffle only
    (key, date, priority) rows."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        "o_orderpriority",
        "o_orderkey",
    )
    w_day = W.partitionBy("o_custkey", "valid_from").orderBy(
        F.col("o_orderkey").desc()
    )
    daily = (
        o.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .drop("rn", "o_orderkey")
    )
    w_hist = W.partitionBy("o_custkey").orderBy("valid_from")
    return daily.select(
        "o_custkey",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
        "o_orderpriority",
    ).select(
        "o_custkey",
        "valid_from",
        "valid_to",
        "o_orderpriority",
        F.col("valid_to").isNull().alias("is_current"),
    )


@query(
    "window-range-frame-sum",
    # RANGE frame: every event sums its user's values within the
    # trailing hour BY TIMESTAMP VALUE (not row count) — peers at
    # equal ts all see the same frame, which is what makes the result
    # tie-order-invariant; decimal accumulation keeps it engine-exact
    oracle="""
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS hour_sum
    FROM events WHERE value IS NOT NULL
    """,
)
def window_range_frame_sum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / RANGE frame — each event's trailing-hour value sum per
    user, framed by TIMESTAMP DISTANCE instead of row count (the
    rows-frame rolling ops elsewhere answer "last N events"; this
    answers "last hour", sparse or dense). RANGE frames make peers at
    the same ordering value share one frame, so the result is
    tie-order-invariant by construction; the sum accumulates in
    DECIMAL(38,6) — engine-exact. One shuffle on the key, one sort."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_s",
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("hour_sum"),
    )


@query(
    "agg-pareto-abc",
    # decimal cumsum over the spend-sorted customers; class cutoffs
    # compare exact decimals against decimal fractions of the exact
    # total — no floats until the output share column
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    c AS (
      SELECT o_custkey, spend,
             SUM(spend) OVER (
               ORDER BY spend DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(spend) OVER () AS total
      FROM r
    )
    SELECT o_custkey,
           CAST(spend AS DOUBLE) AS spend,
           CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
)
def agg_pareto_abc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Pareto ABC classification — rank customers by spend and
    class them A (the first 80% of revenue), B (next 15%), C (tail):
    the whale-cutoff / inventory-ABC analysis behind every account
    tier. The cumulative sum runs in EXACT decimal over the
    deterministic (spend desc, key) order, and the 80/95 cutoffs
    compare scaled decimals (cum·100 ≤ total·80) — integer-exact
    boundary decisions, no float thresholds.

    Scale posture (r12, global-window allowlist sweep): the running
    total over the CUSTOMER-cardinality frame rides
    mleval.bucketed_global_rank's decimal prefix sum (≤16k-bucket
    offsets + distributed within-bucket window) — never a
    single-partition sort of all customers; the grand total is a
    broadcast 1-row aggregate, not an unbounded all-rows window."""
    from medallion_delta_lake_spark.operators.mleval import (
        bucketed_global_rank,
    )

    r = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "spend"
            )
        )
    )
    tot = r.agg(F.sum("spend").alias("total"))
    c = bucketed_global_rank(
        r, "spend", False, "_i", "o_custkey", prefix_sums={"cum": "spend"}
    ).crossJoin(F.broadcast(tot)).select(
        "o_custkey", "spend", "cum", "total"
    )
    return c.select(
        "o_custkey",
        F.col("spend").cast("double").alias("spend"),
        F.when(
            F.col("cum") * 100 <= F.col("total") * 80, "A"
        )
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "window-gap-report",
    # integer epoch-second arithmetic end to end
    oracle="""
    WITH o AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_s
      FROM events
    )
    SELECT user_id, prev_s AS gap_start_s, ts_s AS gap_end_s,
           ts_s - prev_s AS gap_s
    FROM o
    WHERE prev_s IS NOT NULL AND ts_s - prev_s > 21600
    """,
)
def window_gap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monitoring / data-gap report — every silent interval longer
    than 6 hours in each user's event stream, as (start, end,
    duration) rows: the missing-data detector a feed-health dashboard
    runs (sessionization groups activity; this reports the HOLES).
    One lag window over integer epoch seconds — all-integer
    arithmetic, one keyed sort."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts_s",
        F.lag("ts_s").over(w).alias("prev_s"),
    )
    return o.filter(
        F.col("prev_s").isNotNull()
        & ((F.col("ts_s") - F.col("prev_s")) > 21600)
    ).select(
        "user_id",
        F.col("prev_s").alias("gap_start_s"),
        F.col("ts_s").alias("gap_end_s"),
        (F.col("ts_s") - F.col("prev_s")).alias("gap_s"),
    )


@query(
    "agg-weekly-growth",
    # weekly decimal-exact revenue, then ONE division per week pair —
    # week boundaries via integer epoch-day arithmetic (no engine
    # week-of-year disagreements)
    oracle="""
    WITH w AS (
      SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
               // 86400 // 7 AS week,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    )
    SELECT week, revenue,
           revenue / LAG(revenue) OVER (ORDER BY week) - 1.0
             AS wow_growth
    FROM w
    """,
)
def agg_weekly_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics / week-over-week growth — weekly revenue plus its
    relative change vs the prior week (the headline BI metric). Week
    buckets come from integer epoch arithmetic (epoch DIV 86400 DIV 7,
    all-integer — a float division truncated one boundary differently
    across engines before this) rather than engine week-of-year functions, whose ISO/locale
    conventions disagree; weekly sums are decimal-exact and the growth
    is ONE division — engine-identical. One grouped pass + a 52-row
    window."""
    from pyspark.sql import Window as W

    w = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.expr(
                "unix_timestamp(o_orderdate) DIV 86400 DIV 7"
            ).alias("week")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue")
        )
    )
    return w.select(
        "week",
        "revenue",
        (
            F.col("revenue") / F.lag("revenue").over(W.orderBy("week"))
            - 1.0
        ).alias("wow_growth"),
    )


@query(
    "scd2-incremental-upsert",
    # the correctness contract IS the oracle: applying the post-split
    # change batch to the pre-split dimension must equal the FULL
    # rebuild over all of history — same SQL as scd2-history-build
    oracle="""
    WITH ch AS (
      SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey, o_orderdate
               ORDER BY o_orderkey DESC
             ) AS rn
      FROM orders
    ),
    daily AS (SELECT * FROM ch WHERE rn = 1),
    hist AS (
      SELECT o_custkey, valid_from, o_orderpriority,
             LEAD(valid_from) OVER (
               PARTITION BY o_custkey ORDER BY valid_from
             ) AS valid_to
      FROM daily
    )
    SELECT o_custkey, valid_from, valid_to, o_orderpriority,
           valid_to IS NULL AS is_current
    FROM hist
    """,
)
def scd2_incremental_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutation / SCD-2 INCREMENTAL upsert (VERDICT r7 #9) — apply a
    change batch to an existing type-2 dimension instead of rebuilding
    from full history: the affected keys' open intervals close at
    their first new change date, the batch chains into new intervals,
    everything else rides through untouched. Here the dimension is
    built from pre-1997 orders, the batch is the 1997+ daily changes,
    and the oracle asserts the incremental result equals the full
    rebuild — the invariant that lets a warehouse maintain dimension
    history without nightly O(history) rebuilds. Scale shape
    (operators/upsert.py:scd2_apply): one window over the BATCH, one
    broadcast join against per-key first-new-dates; history never
    re-sorts."""
    from pyspark.sql import Window as W

    from medallion_delta_lake_spark.operators.upsert import scd2_apply

    split = "1997-01-01"
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        "o_orderpriority",
        "o_orderkey",
    )
    w_day = W.partitionBy("o_custkey", "valid_from").orderBy(
        F.col("o_orderkey").desc()
    )
    daily = (
        o.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .drop("rn", "o_orderkey")
    )
    pre = daily.filter(F.col("valid_from") < F.lit(split))
    batch = daily.filter(F.col("valid_from") >= F.lit(split))
    w_hist = W.partitionBy("o_custkey").orderBy("valid_from")
    dim = pre.select(
        "o_custkey",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
        "o_orderpriority",
    ).select(
        "o_custkey",
        "valid_from",
        "valid_to",
        "o_orderpriority",
        F.col("valid_to").isNull().alias("is_current"),
    )
    return scd2_apply(dim, batch, key="o_custkey")


@query(
    "stats-theil-sen",
    # weekly revenue series; median-of-pairwise-slopes without
    # interpolation ambiguity: explicit middle ranks (n+1)÷2,(n+2)÷2
    oracle="""
    WITH wk AS (
      SELECT date_diff('day', DATE '1992-01-01', o_orderdate) // 7 AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS y
      FROM orders GROUP BY 1
    ),
    sl AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS slope
      FROM wk a JOIN wk b ON a.x < b.x
    ),
    r AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM sl
    ),
    t AS (SELECT COUNT(*) AS n_pairs FROM sl),
    np AS (SELECT COUNT(*) AS n_points FROM wk)
    SELECT AVG(slope) AS slope,
           (SELECT n_points FROM np) AS n_points,
           (SELECT n_pairs FROM t) AS n_pairs
    FROM r, t
    WHERE rn = (n_pairs + 1) // 2 OR rn = (n_pairs + 2) // 2
    """,
)
def stats_theil_sen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Theil–Sen robust trend — median of all pairwise slopes
    of the WEEKLY revenue series (29% breakdown point; the trend line
    outliers can't drag, standard in monitoring pipelines). The O(n²)
    pair join runs over the ~370-point aggregate, never raw rows —
    the operator probes the point count and raises past max_points
    (operators/agg.py:theil_sen). Median via explicit middle ranks:
    no percentile interpolation to disagree across engines."""
    from medallion_delta_lake_spark.operators.agg import theil_sen

    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
            / F.lit(7)
        )
        .cast("long")
        .alias("x")
    ).agg(dsum("o_totalprice", "y"))
    return theil_sen(wk, "x", "y")


@query(
    "stats-kendall-tau",
    # DRIVER FACE IS ALL-INTEGER (r8/r9 driver-red settlement): pair
    # classification is integer-exact, and τ is carried as sign +
    # exact-rational τ²·10¹² via HUGEINT // — no double is formed, so
    # no engine/version can disagree (the former tau_b ÷/√ close was
    # hash-red in two consecutive driver rounds yet green locally
    # under every config; see operators/agg.py:q_div)
    oracle="""
    WITH pts AS (
      SELECT c.c_custkey AS i,
             CAST(COUNT(o.o_orderkey) AS DOUBLE) AS x,
             CAST(c.c_acctbal AS DOUBLE) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 31 = 0
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    pair AS (
      SELECT (b.x - a.x) AS dx, (b.y - a.y) AS dy
      FROM pts a JOIN pts b ON a.i < b.i
    ),
    agg AS (
      SELECT
        SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS concordant,
        SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS discordant,
        SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS ties_x,
        SUM(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END) AS ties_y
      FROM pair
    )
    SELECT CAST(CASE WHEN concordant > discordant THEN 1
                     WHEN concordant < discordant THEN -1
                     ELSE 0 END AS INT) AS tau_sign,
           CAST(CASE WHEN (concordant + discordant + ties_x)
                          * (concordant + discordant + ties_y) > 0
                THEN CAST(concordant - discordant AS HUGEINT)
                     * (concordant - discordant) * 1000000000000
                     // (CAST(concordant + discordant + ties_x
                              AS HUGEINT)
                         * (concordant + discordant + ties_y))
                END AS BIGINT) AS tau_sq_q12,
           CAST(concordant AS BIGINT) AS concordant,
           CAST(discordant AS BIGINT) AS discordant,
           CAST(ties_x AS BIGINT) AS ties_x,
           CAST(ties_y AS BIGINT) AS ties_y
    FROM agg
    """,
)
def stats_kendall_tau_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Kendall τ-b — rank correlation between a customer's
    order count and account balance (every-31st-customer sample keeps
    the O(n²) pair set bounded across bench SFs). Completes the correlation family
    (Pearson stats-corr, Spearman stats-spearman-rho) with the
    tie-corrected concordance statistic — the right tool when one
    variable is a small count full of ties. Integer-exact pair
    classification; same probe-and-raise scale posture as theil_sen
    (operators/agg.py:kendall_tau). The registered face drops the
    convenience ``tau_b`` double — τ travels as ``tau_sign`` +
    ``tau_sq_q12`` (exact integer rational), settling the r8/r9
    driver-red by construction."""
    from medallion_delta_lake_spark.operators.agg import kendall_tau

    c = table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 31 == 0
    )
    o = table(spark, sf_dir, "orders")
    pts = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").cast("double").alias("x"))
        .select(
            "c_custkey",
            "x",
            F.col("c_acctbal").cast("double").alias("y"),
        )
    )
    return kendall_tau(pts, "c_custkey", "x", "y").drop("tau_b")


@query(
    "window-rolling-slope",
    # closed-form OLS from frame sums: x = row index (exact ints),
    # y decimal-accumulated; final combination is IEEE-identical
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             CAST(value AS DECIMAL(38,6)) AS y,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS x
      FROM events
    ),
    f AS (
      SELECT event_id, user_id,
        CAST(COUNT(*) OVER w AS DOUBLE) AS n,
        CAST(SUM(x) OVER w AS DOUBLE) AS sx,
        CAST(SUM(y) OVER w AS DOUBLE) AS sy,
        CAST(SUM(y * x) OVER w AS DOUBLE) AS sxy,
        CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
           END AS slope7
    FROM f
    """,
)
def window_rolling_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / rolling OLS slope — per-user trend DIRECTION of the
    event value over the trailing 7 rows (a rolling mean gives level;
    this gives rate — the anomaly precursor signal monitoring systems
    alert on). Closed form from five frame sums, one key-partitioned
    window pass, decimal accumulation for engine-exact parity
    (operators/window.py:rolling_slope)."""
    from medallion_delta_lake_spark.operators.window import rolling_slope

    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        rolling_slope(
            e, ["user_id"], ["ts", "event_id"], "value", window_rows=7
        ).alias("slope7"),
    )


@query(
    "window-regime-segments",
    # gaps-and-islands: LAG flip marks + running-sum segment ids,
    # grouped to one row per maximal run — ordering ops only
    oracle="""
    WITH f AS (
      SELECT user_id, ts, event_id,
             value >= 50.0 AS r,
             CASE WHEN LAG(value >= 50.0) OVER w IS NULL
                       OR LAG(value >= 50.0) OVER w <> (value >= 50.0)
                  THEN 1 ELSE 0 END AS flip
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, r,
             SUM(flip) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS segment
      FROM f
    )
    SELECT user_id, CAST(segment AS BIGINT) AS segment,
           r AS regime, COUNT(*) AS n_rows,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts
    FROM s GROUP BY user_id, segment, r
    """,
)
def window_regime_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / regime segmentation (gaps-and-islands) — each user's
    event series split into maximal runs of value≥50 vs value<50:
    the uptime-episode / alert-spell primitive. Two window passes
    (LAG flip mark, running segment id) + one grouped aggregate, all
    narrow columns on one key shuffle
    (operators/window.py:regime_segments)."""
    from medallion_delta_lake_spark.operators.window import (
        regime_segments,
    )

    e = table(spark, sf_dir, "events")
    return regime_segments(
        e,
        ["user_id"],
        ["ts", "event_id"],
        F.col("value") >= 50.0,
        "ts",
    )


@query(
    "sketch-count-min",
    # the full d×w counter grid rebuilt in SQL with the same portable
    # hashes; estimates are MIN over d integer counters — exact parity
    oracle=f"""
    WITH grid AS (
      SELECT r, {h64_sql("'cms' || CAST(r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")} % 256 AS b,
             COUNT(*) AS cnt
      FROM events, unnest([0, 1, 2, 3]) AS t(r)
      GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 40),
    pb AS (
      SELECT user_id, r,
             {h64_sql("'cms' || CAST(r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")} % 256 AS b
      FROM probes, unnest([0, 1, 2, 3]) AS t(r)
    ),
    est AS (
      SELECT pb.user_id, MIN(COALESCE(grid.cnt, 0)) AS est_count
      FROM pb LEFT JOIN grid ON grid.r = pb.r AND grid.b = pb.b
      GROUP BY pb.user_id
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY 1
    )
    SELECT e.user_id, e.est_count,
           COALESCE(x.exact_count, 0) AS exact_count,
           e.est_count - COALESCE(x.exact_count, 0) AS overshoot
    FROM est e LEFT JOIN exact x ON x.user_id = e.user_id
    """,
)
def sketch_count_min_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sketch / count–min frequency estimation — per-user event counts
    estimated from a 4×256 counter grid (min over 4 salted-hash
    counters; est ≥ exact always, Cormode–Muthukrishnan). The
    mergeable heavy-hitter sketch: shards build grids independently
    and ADD counters, so a 100 TB stream reduces to d·w integers
    (operators/agg.py:count_min_estimate). Probing the first 40 users
    and emitting est vs exact vs overshoot makes the one-sided-error
    contract itself part of the checked result."""
    from medallion_delta_lake_spark.operators.agg import (
        count_min_estimate,
    )

    e = table(spark, sf_dir, "events")
    return count_min_estimate(
        e,
        "user_id",
        e.filter(F.col("user_id") < 40),
        depth=4,
        width=256,
        salt="cms",
    )


@query(
    "stats-mad-outliers",
    # DRIVER FACE IS ALL-INTEGER (r8/r9 driver-red settlement): values
    # quantize once to BIGINT micros (floor(v·1e6) of the identical
    # input double — exact in both engines); medians ride at 2× (lo+hi
    # of the middle ranks, so even counts never divide), deviations at
    # 2×, MAD at 4×, and the Iglewicz–Hoaglin census is the exact
    # integer inequality 13490·d2 > 35000·mad4 — no double after the
    # quantization, so no engine/version can disagree
    oracle="""
    WITH base AS (
      SELECT event_type,
             CAST(floor(value * 1e6) AS BIGINT) AS vq,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY CAST(floor(value * 1e6) AS BIGINT), event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ),
    med AS (
      SELECT event_type,
             CASE WHEN COUNT(*) = 1 THEN 2 * SUM(vq)
                  ELSE SUM(vq) END AS m2
      FROM base
      WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
      GROUP BY event_type
    ),
    dev AS (
      SELECT b.event_type, abs(2 * b.vq - m.m2) AS d2, m.m2,
             ROW_NUMBER() OVER (
               PARTITION BY b.event_type
               ORDER BY abs(2 * b.vq - m.m2), b.event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY b.event_type) AS cnt
      FROM (SELECT event_type, event_id,
                   CAST(floor(value * 1e6) AS BIGINT) AS vq
            FROM events) b
      JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, ANY_VALUE(m2) AS m2,
             CASE WHEN COUNT(*) = 1 THEN 2 * SUM(d2)
                  ELSE SUM(d2) END AS mad4
      FROM dev
      WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
      GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(ANY_VALUE(m.m2) AS BIGINT) AS median_x2_q6,
           CAST(ANY_VALUE(m.mad4) AS BIGINT) AS mad_x4_q6,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN m.mad4 <> 0
                     AND 13490 * abs(2 * CAST(floor(e.value * 1e6)
                                              AS BIGINT) - m.m2)
                         > 35000 * m.mad4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type
    """,
)
def stats_mad_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / MAD + modified-z outlier census — per event type:
    positional median, median absolute deviation, and how many events
    exceed robust |z| > 3.5 (Iglewicz–Hoaglin) — the dispersion/
    outlier monitor that survives the outliers themselves (stddev
    does not). Driver face is all-integer: micros-quantized values,
    median at 2× (``median_x2_q6``), MAD at 4× (``mad_x4_q6``) —
    see operators/agg.py:mad_outliers for the settlement rationale. Completes the robust family with stats-theil-sen
    (robust trend) and window-winsorize (robust clipping). Two keyed
    window sorts + two grouped aggregates
    (operators/agg.py:mad_outliers)."""
    from medallion_delta_lake_spark.operators.agg import mad_outliers

    return mad_outliers(
        table(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        "event_id",
        z_thresh=3.5,
    )


@query(
    "graph-degree-histogram",
    oracle="""
    WITH raw AS (
      SELECT l_orderkey % 20000 AS p, l_partkey % 20000 AS q
      FROM lineitem
    ),
    e AS (
      SELECT DISTINCT least(p, q) AS u, greatest(p, q) AS v
      FROM raw WHERE least(p, q) < greatest(p, q)
    ),
    ends AS (
      SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
    ),
    deg AS (SELECT node, COUNT(*) AS degree FROM ends GROUP BY node)
    SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
    """,
)
def graph_degree_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / degree distribution — n_nodes per degree of the same
    hash-projected order↔part graph the triangle count runs on: the
    pre-flight every graph job needs, since degree structure PRICES
    them (wedge counts are Σd², hub nodes stall label propagation,
    heavy LSH buckets are the identical pathology). Two int-keyed
    grouped counts after multi-edge collapse
    (operators/graph.py:degree_histogram)."""
    from medallion_delta_lake_spark.operators.graph import (
        degree_histogram,
    )

    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 20000).alias("a"),
        (F.col("l_partkey") % 20000).alias("b"),
    )
    return degree_histogram(li, "a", "b")


@query(
    "stats-runs-test",
    # runs of daily revenue above/below the positional median; the
    # Wald–Wolfowitz z uses only counts + one sqrt (IEEE-exact)
    oracle="""
    WITH d AS (
      SELECT o_orderdate AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT day, rev,
             ROW_NUMBER() OVER (ORDER BY rev, day) AS rn,
             COUNT(*) OVER () AS cnt
      FROM d
    ),
    med AS (
      SELECT AVG(rev) AS m FROM r
      WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
    ),
    s AS (
      SELECT day, rev > (SELECT m FROM med) AS above
      FROM d WHERE rev <> (SELECT m FROM med)
    ),
    f AS (
      SELECT above,
             CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL
                       OR LAG(above) OVER (ORDER BY day) <> above
                  THEN 1 ELSE 0 END AS flip
      FROM s
    ),
    agg AS (
      SELECT SUM(flip) AS runs,
             SUM(CASE WHEN above THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN above THEN 0 ELSE 1 END) AS n2
      FROM f
    )
    SELECT CAST(runs AS BIGINT) AS runs,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           (CAST(runs AS DOUBLE)
            - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                  / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
             AS z
    FROM agg
    """,
)
def stats_runs_test_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Wald–Wolfowitz runs test — is the daily-revenue series
    RANDOM around its median, or does it clump (autocorrelated
    regimes, batchy ingestion)? Counts the runs of above/below-median
    days (rows equal to the median drop, standard practice) and
    z-scores against the run-count null. Positional median + LAG flip
    count + one closing sqrt — every compared value integer or one
    IEEE expression. The day-grain series is tiny at any corpus
    scale; the groupBy that builds it is the only data-sized pass."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        dsum("o_totalprice", "rev")
    )
    r = d.select(
        "day",
        "rev",
        F.row_number()
        .over(W.orderBy(F.col("rev").asc(), F.col("day").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("cnt"),
    )
    med = (
        r.filter(
            (F.col("rn") >= F.floor((F.col("cnt") + 1) / 2))
            & (F.col("rn") <= F.floor((F.col("cnt") + 2) / 2))
        )
        .agg(F.avg("rev").alias("m"))
    )
    s = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select("day", (F.col("rev") > F.col("m")).alias("above"))
    )
    w = W.orderBy("day")
    prev = F.lag("above").over(w)
    f = s.select(
        "above",
        F.when(prev.isNull() | (prev != F.col("above")), 1)
        .otherwise(0)
        .alias("flip"),
    )
    agg = f.agg(
        F.sum("flip").cast("bigint").alias("runs"),
        F.sum(F.when(F.col("above"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("above"), 0).otherwise(1))
        .cast("bigint")
        .alias("n2"),
    )
    n1, n2, runs = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("runs").cast("double"),
    )
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    sig = F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        "runs", "n1", "n2", ((runs - mu) / sig).alias("z")
    )


@query(
    "join-bloom-prefilter",
    # result is EXACTLY the semi join (the bloom only prunes early),
    # so the oracle is the plain IN-subquery
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    """,
)
def join_bloom_prefilter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join / bloom-prefiltered semi join — orders of high-balance
    customers, with the build side's keys folded into a broadcast
    64 Kbit bloom bitmap that drops non-matching probe rows BEFORE
    any shuffle; survivors take the exact left_semi, so the result is
    identical to the plain semi join while the heavy side's shuffle
    carries only candidates (the pattern worth persisting across
    daily runs at 100 TB). Portable-hash bitmap, false-positive rate
    <1% at this build size (operators/joins.py:bloom_semi_join)."""
    from medallion_delta_lake_spark.operators.joins import (
        bloom_semi_join,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000
    )
    return bloom_semi_join(o, c, key="o_custkey", other_key="c_custkey")


@query(
    "agg-latency-histogram",
    # power-of-2 buckets via binary-string length — bin() is identical
    # in both engines where floor(log2()) could drift at the last ulp
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT event_type, length(bin(cents)) - 1 AS bucket
      FROM v WHERE cents >= 1
    )
    SELECT event_type, CAST(bucket AS INT) AS bucket,
           CAST(2 ** bucket AS BIGINT) AS bucket_lo,
           CAST(2 ** (bucket + 1) - 1 AS BIGINT) AS bucket_hi,
           COUNT(*) AS n
    FROM b GROUP BY event_type, bucket
    """,
)
def agg_latency_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / power-of-2 (HdrHistogram-style) value histogram — event
    values bucketed by binary magnitude per type: the constant-memory
    latency/size profile every serving system keeps, mergeable by
    bucket addition. Bucket = bit-length of the integer cents — the
    engine-exact spelling of floor(log2(x)), which can drift at exact
    powers of two across libms. One grouped count with map-side
    combine; at 100 TB the output is ~64 rows per group."""
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    b = e.select(
        "event_type", cents.alias("cents")
    ).filter(F.col("cents") >= 1).select(
        "event_type",
        (F.length(F.bin("cents")) - 1).cast("int").alias("bucket"),
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        "event_type",
        "bucket",
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), bucket) AS BIGINT)")
        .alias("bucket_lo"),
        F.expr(
            "CAST(shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1 AS BIGINT)"
        ).alias("bucket_hi"),
        "n",
    )


@query(
    "window-bollinger-bands",
    # mean ± 2σ from decimal-exact frame sums; sqrt is IEEE-exact, so
    # the bands and the outside-flag match bit-for-bit
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts, value,
             CAST(value AS DECIMAL(38,6)) AS y
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT event_id, user_id, value,
        CAST(COUNT(*) OVER w AS DOUBLE) AS n,
        CAST(SUM(y) OVER w AS DOUBLE) AS sy,
        CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN n >= 2 THEN sy / n END AS mid,
           CASE WHEN n >= 2
                THEN sy / n + 2.0 * sqrt((n * syy - sy * sy)
                                         / (n * (n - 1.0))) END AS upper,
           CASE WHEN n >= 2
                THEN sy / n - 2.0 * sqrt((n * syy - sy * sy)
                                         / (n * (n - 1.0))) END AS lower,
           CASE WHEN n >= 2
                THEN value > sy / n + 2.0 * sqrt((n * syy - sy * sy)
                                                 / (n * (n - 1.0)))
                     OR value < sy / n - 2.0 * sqrt((n * syy - sy * sy)
                                                    / (n * (n - 1.0)))
           END AS outside
    FROM f
    """,
)
def window_bollinger_bands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / Bollinger bands — trailing-20 mean ± 2 sample-σ per
    user with an outside-the-band flag: the volatility envelope that
    separates "moved a lot" from "moved abnormally for ITS recent
    regime" (pairs with window-anomaly-zscore's global z). σ comes
    from decimal-exact frame sums (n·Σy²−(Σy)²)/(n(n−1)) closed form —
    one keyed sort carries count/sum/sum-of-squares together."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    y = F.col("value").cast("decimal(38,6)")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -19, 0
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    syy = F.sum(y * y).over(w).cast("double")
    base = e.select(
        "event_id",
        "user_id",
        "value",
        n.alias("n"),
        sy.alias("sy"),
        syy.alias("syy"),
    )
    nn, s1, s2 = F.col("n"), F.col("sy"), F.col("syy")
    mid = s1 / nn
    sd = F.sqrt((nn * s2 - s1 * s1) / (nn * (nn - 1.0)))
    ok = nn >= 2
    upper, lower = mid + 2.0 * sd, mid - 2.0 * sd
    return base.select(
        "event_id",
        "user_id",
        F.when(ok, mid).alias("mid"),
        F.when(ok, upper).alias("upper"),
        F.when(ok, lower).alias("lower"),
        F.when(
            ok, (F.col("value") > upper) | (F.col("value") < lower)
        ).alias("outside"),
    )


@query(
    "stats-brown-forsythe",
    # variance-homogeneity F on |x − group median|: exact positional
    # medians, decimal-accumulated sums of squares; the k per-group
    # double terms sum in a deterministic ORDER BY event_type window
    # (the drift-hellinger pattern) so the close is run-stable
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ),
    med AS (
      SELECT event_type, AVG(value) AS m
      FROM r
      WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
      GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type,
             CAST(abs(e.value - m.m) AS DECIMAL(38,6)) AS z
      FROM events e JOIN med m USING (event_type)
    ),
    grp AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(z) AS DOUBLE) AS sz,
             CAST(SUM(z * z) AS DOUBLE) AS szz
      FROM z GROUP BY event_type
    ),
    tot AS (
      SELECT COUNT(*) AS k, SUM(n) AS big_n,
             CAST(SUM(CAST(sz AS DECIMAL(38,6))) AS DOUBLE) AS all_sz
      FROM grp
    ),
    run AS (
      SELECT k, big_n,
             SUM(n * (sz / n - all_sz / big_n)
                   * (sz / n - all_sz / big_n))
               OVER (ORDER BY event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS num_run,
             SUM(szz - sz * sz / n)
               OVER (ORDER BY event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS den_run
      FROM grp, tot
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(big_n AS BIGINT) AS big_n,
           (CAST(big_n - k AS DOUBLE) / (k - 1.0))
           * MAX(num_run) / MAX(den_run) AS f_stat
    FROM run
    GROUP BY k, big_n
    """,
)
def stats_brown_forsythe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Brown–Forsythe variance-homogeneity F — are the event
    types' value SPREADS equal? One-way ANOVA on |x − group median|
    (the median-based Levene variant — robust to the non-normality
    that wrecks Bartlett's test): the gatekeeper before any
    pooled-variance comparison (Welch stats-welch-t sidesteps it for
    2 groups; this covers k groups). Exact positional medians, decimal
    sums of squares, a handful of IEEE ops to close — two grouped
    passes + one keyed sort, no driver math."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wc = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    med = (
        r.filter(
            (F.col("rn") >= F.floor((F.col("cnt") + 1) / 2))
            & (F.col("rn") <= F.floor((F.col("cnt") + 2) / 2))
        )
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"))
    )
    z = ev.join(med, "event_type").select(
        "event_type",
        F.abs(F.col("value") - F.col("m"))
        .cast("decimal(38,6)")
        .alias("z"),
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("double").alias("szz"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("big_n"),
        F.sum(F.col("sz").cast("decimal(38,6)"))
        .cast("double")
        .alias("all_sz"),
    )
    j = grp.crossJoin(F.broadcast(tot))
    n, sz, szz = F.col("n"), F.col("sz"), F.col("szz")
    k, bn, asz = F.col("k"), F.col("big_n"), F.col("all_sz")
    dev = sz / n - asz / bn
    # the k per-group double terms are order-sensitive under F.sum;
    # accumulate them in a deterministic ORDER BY event_type window
    # (both terms are >= 0, so MAX of the running sum == the total)
    wrun = W.orderBy("event_type").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = j.select(
        k,
        bn,
        F.sum(n * dev * dev).over(wrun).alias("num_run"),
        F.sum(szz - sz * sz / n).over(wrun).alias("den_run"),
    )
    return r.groupBy("k", "big_n").agg(
        (
            ((F.first(bn) - F.first(k)).cast("double")
             / (F.first(k) - F.lit(1.0)))
            * F.max("num_run")
            / F.max("den_run")
        ).alias("f_stat")
    ).select(
        F.col("k").cast("bigint").alias("k"),
        F.col("big_n").cast("bigint").alias("big_n"),
        "f_stat",
    )


@query(
    "agg-markov-transition",
    # per-user consecutive event-type pairs → global transition counts
    # and row-normalized probabilities: LAG + two grouped counts, all
    # integers until one closing division
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    ),
    pairs AS (
      SELECT prev AS from_type, event_type AS to_type
      FROM s WHERE prev IS NOT NULL
    ),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM pairs GROUP BY from_type, to_type
    ),
    tot AS (
      SELECT from_type, SUM(n) AS row_n FROM cnt GROUP BY from_type
    )
    SELECT c.from_type, c.to_type, c.n,
           CAST(c.n AS DOUBLE) / t.row_n AS p
    FROM cnt c JOIN tot t USING (from_type)
    """,
)
def agg_markov_transition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / first-order Markov transition matrix — which event type
    follows which, across all user sessions: the behavioral-flow model
    behind next-action prediction, funnel anomaly detection, and
    session simulators. One keyed LAG (the only data-sized sort) then
    two grouped counts over the tiny type×type matrix; probabilities
    are one division over exact integer counts."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return cnt.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("row_n")).alias("p"),
    )


@query(
    "pandas-udaf-median",
    # np.median(sorted array) == the positional median: odd n is the
    # middle element verbatim, even n one IEEE mean of the two middles
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, AVG(value) AS median
    FROM r
    WHERE rn >= floor((cnt + 1) / 2) AND rn <= floor((cnt + 2) / 2)
    GROUP BY event_type
    """,
)
def pandas_udaf_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """udaf / per-group median as a vectorized pandas GROUPED_AGG UDF —
    the §2.11 UDAF surface (whole group → one Arrow series → one
    scalar), verified exactly against the positional-median oracle
    (np.median's sort makes it order-independent). Production medians
    stay on the built-in window path (stats-median-manual); this op
    covers the API for aggregates that genuinely need numpy
    (operators/pandas_ops.py:grouped_median_udaf)."""
    from medallion_delta_lake_spark.operators.pandas_ops import (
        grouped_median_udaf,
    )

    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return grouped_median_udaf(e, ["event_type"], "value")


# ------------------------------------------------------- drift monitors


@query(
    "drift-total-variation",
    # bucket assignment is a fixed IEEE chain over broadcast reference
    # min/max; the distance is DECIMAL(19,0) cross-multiplication with
    # one closing double division — log-free, engine-exact (PSI's ln()
    # differs by 1 ulp across libms on ~3% of values, measured)
    oracle="""
    WITH base AS (
      SELECT CAST(value AS DOUBLE) AS x,
             ts >= TIMESTAMP '2024-01-16 00:00:00' AS cur
      FROM events WHERE value IS NOT NULL
    ),
    e AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM base WHERE NOT cur),
    b AS (
      SELECT CASE WHEN mx = mn THEN 0
                  ELSE LEAST(9, GREATEST(0,
                    CAST(FLOOR((x - mn) / ((mx - mn) / 10.0)) AS INT)))
             END AS bin,
             cur
      FROM base, e
    ),
    c AS (
      SELECT bin,
             COUNT(CASE WHEN NOT cur THEN 1 END) AS ref_cnt,
             COUNT(CASE WHEN cur THEN 1 END) AS cur_cnt
      FROM b GROUP BY bin
    ),
    t AS (SELECT CAST(SUM(ref_cnt) AS BIGINT) AS nr,
                 CAST(SUM(cur_cnt) AS BIGINT) AS nc FROM c),
    g AS (
      SELECT bin, ref_cnt, cur_cnt,
             abs(CAST(cur_cnt AS DECIMAL(19,0)) * CAST(nr AS DECIMAL(19,0))
                 - CAST(ref_cnt AS DECIMAL(19,0)) * CAST(nc AS DECIMAL(19,0)))
               AS dev,
             CAST(nr AS DOUBLE) AS nr_d, CAST(nc AS DOUBLE) AS nc_d
      FROM c, t
    )
    SELECT bin, ref_cnt, cur_cnt,
           CAST(dev AS DOUBLE) / (nr_d * nc_d) AS gap,
           CAST(SUM(dev) OVER () AS DOUBLE) / (2.0 * nr_d * nc_d)
             AS tv_distance
    FROM g
    """,
)
def drift_total_variation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drift / binned total-variation distance — the log-free ingest
    drift monitor: value histograms of the first vs second half of the
    month over 10 fixed-width buckets frozen to the reference min/max
    (current out-of-range mass clamps into the edge buckets, so novel
    values still count). Integer cross-multiplication keeps it exact
    where PSI's ln() would drift a ulp across engines; scale shape is
    one reference min/max pass + one 10-row map-side-combined groupBy
    (operators/drift.py:binned_total_variation)."""
    from medallion_delta_lake_spark.operators import drift

    ev = table(spark, sf_dir, "events").select(
        "value",
        (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"))
        .alias("is_cur"),
    )
    return drift.binned_total_variation(ev, "value", "is_cur", bins=10)


@query(
    "drift-hellinger-cat",
    # per-category sqrt((rc/nr)·(cc/nc)) terms (sqrt is correctly
    # rounded IEEE in both engines) summed in ORDER BY category — the
    # one order-sensitive double reduction runs in a deterministic
    # cumulative window, identical in Spark and DuckDB
    oracle="""
    WITH c AS (
      SELECT event_type AS cat,
             COUNT(CASE WHEN NOT (isodow(ts) >= 6) THEN 1 END) AS rc,
             COUNT(CASE WHEN isodow(ts) >= 6 THEN 1 END) AS cc
      FROM events WHERE event_type IS NOT NULL
      GROUP BY event_type
    ),
    t AS (SELECT CAST(SUM(rc) AS BIGINT) AS nr,
                 CAST(SUM(cc) AS BIGINT) AS nc FROM c),
    r AS (
      SELECT SUM(sqrt((CAST(rc AS DOUBLE) / CAST(nr AS DOUBLE))
                      * (CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))))
               OVER (ORDER BY cat
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS bc_run,
             nr, nc
      FROM c, t
    )
    SELECT MAX(bc_run) AS bhattacharyya,
           sqrt(1.0 - LEAST(1.0, MAX(bc_run))) AS hellinger,
           CAST(MAX(nr) AS BIGINT) AS n_ref,
           CAST(MAX(nc) AS BIGINT) AS n_cur,
           COUNT(*) AS n_categories
    FROM r
    """,
)
def drift_hellinger_cat_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drift / Hellinger distance between categorical mixes — did the
    weekend event-type mix shift vs weekdays? Bhattacharyya
    coefficient + Hellinger distance (H² ≤ TV ≤ H·√2), the log-free
    sibling of JS divergence. One k-row grouped count with map-side
    combine; the k sqrt terms sum in a deterministic ordered window
    (operators/drift.py:categorical_bhattacharyya)."""
    from medallion_delta_lake_spark.operators import drift

    ev = table(spark, sf_dir, "events").select(
        "event_type", (F.weekday("ts") >= F.lit(5)).alias("is_wknd")
    )
    return drift.categorical_bhattacharyya(ev, "event_type", "is_wknd")


@query(
    "stats-kruskal-wallis",
    # doubled integral midranks from a value-frequency map (no fact
    # sort), DECIMAL(38,0) rank sums, per-group R²/n terms summed in an
    # ORDER BY group window, fixed IEEE close with tie correction
    oracle="""
    WITH base AS (
      SELECT event_type AS g,
             CAST(round(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    f AS (SELECT v, COUNT(*) AS c FROM base GROUP BY v),
    r AS (
      SELECT v,
             CAST(2 * COALESCE(SUM(c) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) + c + 1 AS BIGINT) AS d
      FROM f
    ),
    pg0 AS (
      SELECT b.g, COUNT(*) AS ni,
             SUM(CAST(r.d AS DECIMAL(38,0))) AS sdd
      FROM base b JOIN r ON b.v = r.v
      GROUP BY b.g
    ),
    -- decimal→double via three exact 13-digit limbs (rank sums pass
    -- 2^53 at ~10⁸ rows, where DuckDB's int128 cast drifts a ulp)
    pg AS (
      SELECT g, ni,
             (CAST(substr(lpad(CAST(sdd AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(sdd AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(sdd AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS sd
      FROM pg0
    ),
    t0 AS (
      SELECT SUM(CAST(c AS DECIMAL(12,0)) * c * c - c) AS td,
             CAST(SUM(c) AS BIGINT) AS n
      FROM f
    ),
    t AS (
      SELECT (CAST(substr(lpad(CAST(td AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(td AS VARCHAR),39,'0'),14,13)
                     AS DOUBLE)) * 1e13
              + CAST(substr(lpad(CAST(td AS VARCHAR),39,'0'),27,13)
                     AS DOUBLE) AS tt,
             n
      FROM t0
    ),
    run AS (
      SELECT SUM((sd * sd) / (4.0 * CAST(ni AS DOUBLE)))
               OVER (ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s_run,
             tt, n
      FROM pg, t
    ),
    cl AS (
      SELECT 12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
               * MAX(s_run)
               - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_stat,
             1.0 - tt / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))
               AS c_corr,
             COUNT(*) - 1 AS dof, n
      FROM run GROUP BY tt, n
    )
    SELECT h_stat, h_stat / c_corr AS h_adj,
           CAST(dof AS BIGINT) AS dof, n,
           CAST(dof + 1 AS BIGINT) AS n_groups
    FROM cl
    """,
)
def stats_kruskal_wallis_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Kruskal–Wallis H — the k-group rank ANOVA completing the
    drift-test family (KS/Mann–Whitney are two-sample; this asks "did
    ANY event-type's value distribution shift?"). Integer-cents values
    make ties exact; the fact table never sorts — a bounded-distinct
    frequency map broadcasts doubled midranks back
    (operators/agg.py:kruskal_wallis)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return agg.kruskal_wallis(ev, "value", "event_type", scale=100)


@query(
    "stats-jarque-bera",
    # integer-cents power sums Σv..Σv⁴ in DECIMAL (exact — a
    # double→decimal cast of v⁴ would already diverge across engines);
    # central moments + JB close in a fixed IEEE chain, m2^1.5 spelled
    # m2·sqrt(m2)
    oracle="""
    WITH base AS (
      SELECT event_type AS g,
             CAST(round(CAST(value AS DOUBLE) * 100, 0)
                  AS DECIMAL(9,0)) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ),
    s AS (
      SELECT g, COUNT(*) AS n,
             SUM(v) AS d1,
             SUM(v * v) AS d2,
             SUM(v * v * v) AS d3,
             -- DuckDB clamps DECIMAL(18)*DECIMAL(9) back to DECIMAL(18)
             -- (range 10^18 < max v⁴), so stage the quartic as 19+18
             SUM(CAST(v * v AS DECIMAL(19,0)) * (v * v)) AS d4
      FROM base GROUP BY g
    ),
    -- decimal→double via three exact 13-digit limbs: DuckDB's int128
    -- cast is 1 ulp off Spark's past 2^53; the limb recombination is
    -- the same fixed IEEE chain in both engines
    sl AS (
      SELECT g, n,
             (CAST(substr(lpad(CAST(d1 AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(d1 AS VARCHAR),39,'0'),14,13) AS DOUBLE))
                * 1e13
              + CAST(substr(lpad(CAST(d1 AS VARCHAR),39,'0'),27,13) AS DOUBLE)
                AS s1,
             (CAST(substr(lpad(CAST(d2 AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(d2 AS VARCHAR),39,'0'),14,13) AS DOUBLE))
                * 1e13
              + CAST(substr(lpad(CAST(d2 AS VARCHAR),39,'0'),27,13) AS DOUBLE)
                AS s2,
             (CAST(substr(lpad(CAST(d3 AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(d3 AS VARCHAR),39,'0'),14,13) AS DOUBLE))
                * 1e13
              + CAST(substr(lpad(CAST(d3 AS VARCHAR),39,'0'),27,13) AS DOUBLE)
                AS s3,
             (CAST(substr(lpad(CAST(d4 AS VARCHAR),39,'0'),1,13) AS DOUBLE)
                * 1e13
              + CAST(substr(lpad(CAST(d4 AS VARCHAR),39,'0'),14,13) AS DOUBLE))
                * 1e13
              + CAST(substr(lpad(CAST(d4 AS VARCHAR),39,'0'),27,13) AS DOUBLE)
                AS s4
      FROM s
    ),
    m AS (
      SELECT g, n, s1, s2, s3, s4, CAST(n AS DOUBLE) AS nd,
             s1 / CAST(n AS DOUBLE) AS mu
      FROM sl
    ),
    c AS (
      SELECT g, n, nd, mu,
             s2 / nd - mu * mu AS m2,
             s3 / nd - 3.0 * mu * (s2 / nd) + 2.0 * mu * mu * mu AS m3,
             s4 / nd - 4.0 * mu * (s3 / nd)
               + 6.0 * mu * mu * (s2 / nd)
               - 3.0 * mu * mu * mu * mu AS m4
      FROM m
    ),
    k AS (
      SELECT g, n, nd,
             m3 / (m2 * sqrt(m2)) AS skewness,
             m4 / (m2 * m2) AS kurtosis
      FROM c
    )
    SELECT g AS event_type, n, skewness, kurtosis,
           nd / 6.0 * (skewness * skewness
             + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0) AS jb_stat
    FROM k
    """,
)
def stats_jarque_bera_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Jarque–Bera normality screen per event type — skewness,
    excess kurtosis, and the JB statistic from integer-cents power
    sums accumulated exactly in decimal (one grouped pass, map-side
    combine; the cents scale cancels in the standardized moments)
    (operators/agg.py:jarque_bera)."""
    from medallion_delta_lake_spark.operators import agg

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    return agg.jarque_bera(ev, "value", "event_type", scale=100)


@query(
    "window-rolling-autocorr",
    # six frame aggregates over ONE (key, ts) sort; DECIMAL(38,6)
    # per-row products (exact for 2-decimal inputs), frame-bounded
    # magnitudes keep every decimal→double cast under 2^53, explicit
    # degenerate-frame guards instead of engine-specific 0/0
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS y
      FROM events WHERE value IS NOT NULL
    ),
    f AS (
      SELECT user_id, event_id,
             COUNT(y) OVER w AS n,
             CAST(SUM(CASE WHEN y IS NOT NULL
                  THEN CAST(value AS DECIMAL(38,6)) END) OVER w
                  AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sy,
             CAST(SUM(CAST(value * y AS DECIMAL(38,6))) OVER w
                  AS DOUBLE) AS sxy,
             CAST(SUM(CASE WHEN y IS NOT NULL
                  THEN CAST(value * value AS DECIMAL(38,6)) END) OVER w
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,6))) OVER w
                  AS DOUBLE) AS syy
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n >= 5
                 AND CAST(n AS DOUBLE) * sxx - sx * sx > 0
                 AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
           END AS roll_autocorr
    FROM f
    """,
)
def window_rolling_autocorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / rolling lag-1 autocorrelation — per-user momentum vs
    mean-reversion drift over the trailing 20 observed values (the
    windowed evolution of stats-autocorr-lag1). One shuffle, one sort,
    six frame sums sharing it (operators/window.py:rolling_autocorr)."""
    from medallion_delta_lake_spark.operators import window as win

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return win.rolling_autocorr(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        "value",
        window_rows=20,
        min_pairs=5,
    ).drop("ts")


@query(
    "graph-jaccard-suppliers",
    # wedge join bounded by the max_degree neighbor cap (hub customers
    # carry no signal and quadratic cost); integer counts, one int/int
    # division per surviving pair
    oracle="""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS n, o.o_custkey AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_quantity >= 45
    ),
    dw AS (SELECT w, COUNT(*) AS dwc FROM e GROUP BY w),
    kept AS (
      SELECT e.n, e.w FROM e JOIN dw ON e.w = dw.w WHERE dw.dwc <= 50
    ),
    dn AS (SELECT n, COUNT(*) AS dnc FROM kept GROUP BY n),
    common AS (
      SELECT l.n AS a, r.n AS b, COUNT(*) AS n_common
      FROM kept l JOIN kept r ON l.w = r.w AND l.n < r.n
      GROUP BY l.n, r.n
      HAVING COUNT(*) >= 2
    )
    SELECT a, b, n_common,
           CAST(da.dnc AS BIGINT) AS deg_a,
           CAST(db.dnc AS BIGINT) AS deg_b,
           CAST(n_common AS DOUBLE)
             / CAST(da.dnc + db.dnc - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN dn da ON common.a = da.n
    JOIN dn db ON common.b = db.n
    """,
)
def graph_jaccard_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph / Jaccard neighborhood similarity — which suppliers serve
    the same customer base (the entity-resolution / co-purchase
    primitive). Pairs exist only through the wedge join over shared
    customers, so cost is degree-quadratic and the hub cap bounds it.
    TPC-H's uniform purchasing makes the full graph DENSE (every
    supplier pair overlaps), so the registered posture projects the
    high-quantity slice — the realistic sparse regime; the operator
    itself takes the projection as input
    (operators/graph.py:jaccard_neighbors)."""
    from medallion_delta_lake_spark.operators import graph

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_suppkey", "l_orderkey")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("l_suppkey").alias("supp"),
        F.col("o_custkey").alias("cust"),
    )
    return graph.jaccard_neighbors(
        edges, "supp", "cust", max_degree=50, min_common=2
    )


def _corr_matrix_oracle() -> str:
    """DuckDB twin of operators/agg.py:corr_matrix over the four
    lineitem measures — same decimal sums, same limb conversion, same
    IEEE Pearson close."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

    def limb(x: str) -> str:
        # dot-stripped DECIMAL(38,4) string = exact 10⁴-scaled integer
        pad = (
            f"lpad(replace(CAST({x} AS VARCHAR), '.', ''),39,'0')"
        )
        # fully parenthesized: embedded in products, a bare `P / 1e4`
        # would reassociate to `(A·P)/1e4` and round differently
        return (
            f"(((CAST(substr({pad},1,13) AS DOUBLE) * 1e13"
            f" + CAST(substr({pad},14,13) AS DOUBLE)) * 1e13"
            f" + CAST(substr({pad},27,13) AS DOUBLE)) / 1e4)"
        )

    sums = ["COUNT(*) AS n"]
    for i, a in enumerate(cols):
        sums.append(f"SUM(CAST({a} AS DECIMAL(38,4))) AS s{i}")
        for j in range(i, len(cols)):
            sums.append(
                f"SUM(CAST({a} * {cols[j]} AS DECIMAL(38,4)))"
                f" AS q{i}_{j}"
            )
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    pair_sql = []
    for i, a in enumerate(cols):
        for j in range(i + 1, len(cols)):
            vx = (
                f"CAST(n AS DOUBLE) * {limb(f'q{i}_{i}')}"
                f" - {limb(f's{i}')} * {limb(f's{i}')}"
            )
            vy = (
                f"CAST(n AS DOUBLE) * {limb(f'q{j}_{j}')}"
                f" - {limb(f's{j}')} * {limb(f's{j}')}"
            )
            cov = (
                f"CAST(n AS DOUBLE) * {limb(f'q{i}_{j}')}"
                f" - {limb(f's{i}')} * {limb(f's{j}')}"
            )
            pair_sql.append(
                f"SELECT '{a}' AS var_x, '{cols[j]}' AS var_y,"
                " CAST(n AS BIGINT) AS n,"
                f" CASE WHEN {vx} > 0 AND {vy} > 0"
                f" THEN ({cov}) / (sqrt({vx}) * sqrt({vy}))"
                " END AS corr FROM s"
            )
    return (
        f"WITH s AS (SELECT {', '.join(sums)} FROM lineitem"
        f" WHERE {notnull})\n"
        + "\nUNION ALL\n".join(pair_sql)
    )


@query("agg-corr-matrix", oracle=_corr_matrix_oracle())
def agg_corr_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / one-scan Pearson correlation matrix — the feature screen
    over lineitem's four measures: 14 decimal sums in a single
    map-side-combined aggregate, limb-converted to double, six pair
    rows exploded from the one aggregate row (never k² passes)
    (operators/agg.py:corr_matrix)."""
    from medallion_delta_lake_spark.operators import agg

    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    # exact decimal summing is CPU-bound (BigDecimal per row); the
    # single testdata file opens as ~3 splits, so fan the narrow
    # 4-column projection out to every core first — on a real cluster
    # the scan arrives in thousands of splits and this is a no-op
    # posture (the shuffle moves 4 doubles/row, ~40x cheaper than the
    # decimal work it parallelizes)
    li = li.repartition(li.sparkSession.sparkContext.defaultParallelism)
    return agg.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@query(
    "events-attribution-lasttouch",
    # one (user, ts) sort carries the last preceding non-purchase
    # touch via IGNORE NULLS last_value; the 7-day lookback nulls
    # stale touches to 'direct'; revenue sums in DECIMAL(38,6)
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch_type,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN ts END IGNORE NULLS)
               OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p AS (
      SELECT CASE WHEN touch_ts IS NOT NULL
                   AND touch_ts >= ts - INTERVAL 7 DAY
                  THEN touch_type ELSE 'direct' END AS channel,
             value
      FROM o WHERE event_type = 'purchase'
    )
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             AS attributed_value
    FROM p GROUP BY channel
    """,
)
def events_attribution_lasttouch_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """events / last-touch attribution — each purchase credits the
    user's most recent non-purchase touch within a 7-day lookback
    (stale or absent touches fall to 'direct'); the marketing-
    attribution staple completing funnel-analysis (step conversion)
    and cohort-retention. One shuffle on the user key, one sort, two
    IGNORE-NULLS carry windows sharing it, then a tiny grouped
    rollup; revenue accumulates decimal-exact."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    o = ev.select(
        "event_type",
        "ts",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    p = o.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts").isNotNull()
            & (
                F.col("touch_ts")
                >= F.col("ts") - F.expr("INTERVAL 7 DAY")
            ),
            F.col("touch_type"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
        "value",
    )
    return p.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("attributed_value"),
    )


@query(
    "sample-balanced-classes",
    # portable-hash rank (md5-based h64, identical in both engines)
    # with id tie-break; exactly min-class-count rows per class
    oracle=f"""
    WITH c AS (
      SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    ),
    m AS (SELECT MIN(n) AS nmin FROM c),
    r AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY {h64_sql("CAST(event_id AS VARCHAR)")}, event_id
             ) AS rn
      FROM events
    )
    SELECT event_id, event_type FROM r, m WHERE rn <= nmin
    """,
)
def sample_balanced_classes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampling / class-balancing downsample — exactly min-class-count
    rows per event type, selected by deterministic portable-hash rank
    (reproducible across runs/engines/partitionings; no rand() seed
    drift) (operators/sampling.py:balanced_downsample)."""
    from medallion_delta_lake_spark.operators.sampling import (
        balanced_downsample,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    return balanced_downsample(ev, "event_type", "event_id")


def _hhi_limb(x: str) -> str:
    pad = f"lpad(replace(CAST({x} AS VARCHAR), '.', ''),39,'0')"
    return (
        f"(((CAST(substr({pad},1,13) AS DOUBLE) * 1e13"
        f" + CAST(substr({pad},14,13) AS DOUBLE)) * 1e13"
        f" + CAST(substr({pad},27,13) AS DOUBLE)) / 1e4)"
    )


@query(
    "agg-herfindahl",
    # per-supplier revenue in DECIMAL(38,4) (exact), limb-converted;
    # each share² term (∈ (0,1], one IEEE chain per supplier) is
    # quantized via floor(x·10¹⁵)→BIGINT — floor on the identical
    # double is exact in both engines, unlike double→DECIMAL casts
    # (Spark rounds the shortest repr HALF_UP, DuckDB the binary
    # value) — so the per-nation reduction is exact integer addition
    # in ANY order (the previous ORDER BY suppkey double window was a
    # latent flake: DuckDB's windowed SUM reassociates via a segment
    # tree once a nation has ≳32 suppliers); HHI ∈ (1/k, 1]
    oracle=f"""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,4))) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ),
    tot AS (
      SELECT nation, SUM(r) AS t FROM rev GROUP BY nation
    ),
    shares AS (
      SELECT rev.nation,
             CAST(floor((({_hhi_limb('r')} / {_hhi_limb('t')})
                         * ({_hhi_limb('r')} / {_hhi_limb('t')}))
                        * 1e15) AS BIGINT) AS sh2i
      FROM rev JOIN tot ON rev.nation = tot.nation
    )
    SELECT nation, CAST(SUM(sh2i) AS DOUBLE) / 1e15 AS hhi,
           COUNT(*) AS n_suppliers
    FROM shares GROUP BY nation
    """,
)
def agg_herfindahl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg / Herfindahl–Hirschman concentration index — how
    concentrated is revenue among suppliers within each nation (the
    market-concentration / data-source-diversity screen; HHI → 1 means
    one supplier dominates, → 1/k means even split). Revenue
    accumulates exactly in DECIMAL(38,4); each share² term is one
    IEEE chain per supplier, quantized to DECIMAL(38,15) (exact cast
    at magnitude ≤ 1) so the per-nation sum is exact in any order —
    an ORDER BY double window is NOT engine-stable past ~32 terms
    (DuckDB windowed SUM = segment tree) (plans/queries_rel.py)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    from medallion_delta_lake_spark.operators.agg import limb_double

    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(38,4)")
            ).alias("r")
        )
    )
    tot = rev.groupBy("nation").agg(F.sum("r").alias("t"))
    rd = limb_double(F.col("r")) / F.lit(1e4)
    td = limb_double(F.col("t")) / F.lit(1e4)
    shares = rev.join(tot, "nation").select(
        "nation",
        F.floor(((rd / td) * (rd / td)) * F.lit(1e15)).alias("sh2i"),
    )
    return shares.groupBy("nation").agg(
        (F.sum("sh2i").cast("double") / F.lit(1e15)).alias("hhi"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )


@query(
    "stats-wilson-ci",
    # Wilson score interval: +,−,×,÷,sqrt only (z = 1.96 literal, the
    # same double in both engines) — the binomial CI that behaves at
    # small n and extreme rates, engine-exact unlike normal-approx ±
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             COUNT(CASE WHEN value > 100 THEN 1 END) AS k
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    ),
    c AS (
      SELECT event_type, n, k,
             CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             CAST(n AS DOUBLE) AS nd
      FROM s
    ),
    w AS (
      SELECT event_type, n, k, p,
             1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / nd
               AS denom,
             p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
               / (2.0 * nd) AS center,
             1.96 * sqrt(p * (1.0 - p) / nd
                         + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                           / (4.0 * nd * nd)) AS half
      FROM c
    )
    SELECT event_type, n, k, p AS p_hat,
           (center - half) / denom AS ci_lo,
           (center + half) / denom AS ci_hi
    FROM w
    """,
)
def stats_wilson_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats / Wilson score interval — the proportion CI that stays
    sane at small n and extreme rates (share of high-value events per
    type, with bounds): one grouped count pass, then a fixed IEEE
    chain of +,−,×,÷ and one sqrt per group — no normal-approx ± that
    overshoots [0,1], no transcendentals (plans/queries_rel.py)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("value") > 100, 1)).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = F.lit(1.96) * F.lit(1.96)
    denom = F.lit(1.0) + z2 / nd
    center = p + z2 / (F.lit(2.0) * nd)
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd)
    )
    return s.select(
        "event_type",
        "n",
        "k",
        p.alias("p_hat"),
        ((center - half) / denom).alias("ci_lo"),
        ((center + half) / denom).alias("ci_hi"),
    )


@query(
    "events-sankey-paths",
    # two LEADs over one (user, ts) sort, grouped triple counts,
    # deterministic top-20 (count desc, path asc)
    oracle="""
    WITH o AS (
      SELECT user_id, event_type AS s1,
             lead(event_type, 1) OVER w AS s2,
             lead(event_type, 2) OVER w AS s3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    c AS (
      SELECT s1, s2, s3, COUNT(*) AS n_paths
      FROM o WHERE s2 IS NOT NULL AND s3 IS NOT NULL
      GROUP BY s1, s2, s3
    )
    SELECT s1, s2, s3, n_paths FROM c
    ORDER BY n_paths DESC, s1, s2, s3 LIMIT 20
    """,
)
def events_sankey_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events / top user journeys — the 3-step path counts a Sankey /
    flow diagram consumes: two LEADs share one (user, ts) sort, triple
    counts with map-side combine, deterministic top-20 (TakeOrdered —
    no global sort materializes) (plans/queries_rel.py)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    )
    c = (
        o.filter(F.col("s2").isNotNull() & F.col("s3").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    return c.orderBy(
        F.col("n_paths").desc(), "s1", "s2", "s3"
    ).limit(20)


@query(
    "window-time-weighted-avg",
    # Δt to the next event in integer epoch seconds (exact), value·Δt
    # in DECIMAL(38,2) (2-decimal values × integer seconds — exact,
    # day-bounded magnitudes stay far under 2^53), one closing division
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT)
               - CAST(floor(epoch(ts)) AS BIGINT) AS dt
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, day,
             SUM(CAST(value * dt AS DECIMAL(38,2))) AS num,
             CAST(SUM(dt) AS BIGINT) AS secs,
             COUNT(*) AS n_events
      FROM o WHERE dt IS NOT NULL AND dt > 0
      GROUP BY user_id, day
    )
    SELECT user_id, day,
           CAST(num AS DOUBLE) / CAST(secs AS DOUBLE) AS twap,
           secs AS total_secs, n_events
    FROM s
    """,
)
def window_time_weighted_avg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window / time-weighted average (TWAP) — the irregular-series
    average where each observation holds until the next one: per user
    per day, Σ value·Δt / Σ Δt with Δt in exact integer seconds (the
    last observation of a day carries no weight — no lookahead beyond
    the day). One LEAD over one (user, day, ts) sort, decimal-exact
    numerator (plans/queries_rel.py)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        day.alias("day"),
        "value",
        (
            F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")
        ).alias("dt"),
    )
    s = (
        o.filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
        .groupBy("user_id", "day")
        .agg(
            F.sum((F.col("value") * F.col("dt")).cast("decimal(38,2)"))
            .alias("num"),
            F.sum("dt").cast("bigint").alias("secs"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return s.select(
        "user_id",
        "day",
        (F.col("num").cast("double") / F.col("secs").cast("double"))
        .alias("twap"),
        F.col("secs").alias("total_secs"),
        "n_events",
    )
