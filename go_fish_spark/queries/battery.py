"""Q42–Q49 — second relational-coverage battery (round 2).

Widens SURVEY §2.6 gap coverage with operator families the first battery
didn't touch: exact interpolated percentiles, correlation/variance from
exact decimal moments, date-part extraction, array functions, conditional
and argmax aggregation, multi-column distinct aggregation, time-range
window frames, and regex group extraction.

Determinism notes (same discipline as queries/util.py):
  * correlation/variance are NOT computed with corr()/var_samp() — their
    streaming merge formulas accumulate doubles in partition order. Both
    engines instead sum exact decimal moments (n, Σx, Σy, Σxy, Σx², Σy²)
    and combine them in double with the identical expression, so results
    are bit-identical regardless of partitioning.
  * Spark dayofweek() is 1=Sunday; DuckDB dayofweek() is 0=Sunday — the
    oracle adds 1.
  * Spark array_position() returns 0 when absent; DuckDB list_position()
    returns NULL — the oracle coalesces to 0.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from . import query
from .util import money_sum, money_sum6


@query(
    "q42_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           quantile_cont(l_quantity, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q42_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``: same linear interpolation, order-independent
    by definition). The approx_percentile contract is covered by q19-style
    testing; this is the exact operator."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.25).alias("p25"),
            F.percentile("l_quantity", 0.50).alias("p50"),
            F.percentile("l_quantity", 0.75).alias("p75"),
            F.percentile("l_quantity", 0.99).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


# Each exact sum reaches DOUBLE through its decimal TEXT: DuckDB's
# DECIMAL → DOUBLE cast is not correctly rounded once the unscaled value
# passes 2^53 (flag A's syy at sf0.001 came out one ulp above Spark's),
# while parsing the string is — the same double Spark's cast gives.
_DUCK_MOMENTS = """
      SELECT l_returnflag,
             count(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,4))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS VARCHAR) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
"""


@query(
    "q43_exact_corr",
    oracle=f"""
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price,
           (n * sxx - sx * sx) / (n * (n - 1)) AS var_qty
    FROM ({_DUCK_MOMENTS})
    ORDER BY l_returnflag
    """,
)
def q43_exact_corr(spark, sf_dir):
    """Correlation + sample variance from exact decimal moments. The
    built-in corr()/var_samp() merge partial double states in partition
    order (nondeterministic low bits at scale); summing exact decimals and
    combining in double makes the result partitioning-invariant — and both
    engines evaluate the identical final expression."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    price = F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(price.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((qty * price).cast("decimal(24,4)")).cast("double").alias("sxy"),
        F.sum((qty * qty).cast("decimal(18,4)")).cast("double").alias("sxx"),
        F.sum((price * price).cast("decimal(30,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return g.select(
        "l_returnflag",
        "n",
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        ((n * sxx - sx * sx) / (n * (n - 1))).alias("var_qty"),
    ).orderBy("l_returnflag")


@query(
    "q44_date_battery",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                  AS y,
           quarter(o_orderdate)                               AS q,
           month(o_orderdate)                                 AS m,
           day(o_orderdate)                                   AS d,
           dayofweek(o_orderdate) + 1                         AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d')    AS plus30,
           strftime(last_day(o_orderdate), '%Y-%m-%d')        AS month_end,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders ORDER BY o_orderkey
    """,
)
def q44_date_battery(spark, sf_dir):
    """Date-part extraction battery (year/quarter/month/day/dow,
    truncation, interval add, last_day, datediff) — all codegen'd
    built-ins; dow normalized to Spark's 1=Sunday convention."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.dayofweek(d).alias("dow"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
    ).orderBy("o_orderkey")


@query(
    "q45_array_battery",
    oracle="""
    SELECT doc_id,
           len(ws)                                            AS n_tokens,
           ws[1]                                              AS first_tok,
           ws[-1]                                             AS last_tok,
           array_to_string(list_slice(ws, 1, 5), ' ')         AS head5,
           list_contains(ws, 'the')                           AS has_the,
           CAST(coalesce(list_position(ws, 'the'), 0) AS BIGINT) AS the_pos,
           array_to_string(list_sort(list_distinct(ws)), ' ') AS vocab
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def q45_array_battery(spark, sf_dir):
    """Array function battery (size/element_at/slice/contains/position/
    distinct-sort) over tokenized documents; engine-divergent null/zero
    conventions pinned in the oracle (module docstring)."""
    docs = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    d = docs.select("doc_id", ws.alias("ws"))
    return d.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.element_at("ws", 1).alias("first_tok"),
        F.element_at("ws", -1).alias("last_tok"),
        F.array_join(F.slice("ws", 1, 5), " ").alias("head5"),
        F.array_contains("ws", "the").alias("has_the"),
        F.array_position("ws", "the").alias("the_pos"),
        F.array_join(F.sort_array(F.array_distinct("ws")), " ").alias("vocab"),
    ).orderBy("doc_id")


@query(
    "q46_conditional_argmax_agg",
    oracle="""
    WITH agg AS (
      SELECT event_type,
             count(*) FILTER (WHERE value > 10.0) AS n_big,
             bool_or(value > 100.0)               AS any_huge,
             bool_and(value >= 0.0)               AS all_nonneg
      FROM events GROUP BY event_type
    ), amax AS (
      SELECT event_type, event_id AS argmax_event FROM events
      QUALIFY row_number() OVER (PARTITION BY event_type
                                 ORDER BY value DESC, event_id DESC) = 1
    ), amin AS (
      SELECT event_type, event_id AS argmin_event FROM events
      QUALIFY row_number() OVER (PARTITION BY event_type
                                 ORDER BY value ASC, event_id DESC) = 1
    )
    SELECT event_type, n_big, any_huge, all_nonneg, argmax_event, argmin_event
    FROM agg JOIN amax USING (event_type) JOIN amin USING (event_type)
    ORDER BY event_type
    """,
)
def q46_conditional_argmax_agg(spark, sf_dir):
    """Conditional + argmax aggregation: count_if / bool_or / bool_and /
    max_by / min_by (≡ DuckDB FILTER / arg_max). Argmax ties are broken by
    event_id through struct-ordered comparison so both engines pick the
    same row (bare max_by on a tied measure is engine-arbitrary)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 10.0).alias("n_big"),
            F.bool_or(F.col("value") > 100.0).alias("any_huge"),
            F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
            F.max_by("event_id", F.struct("value", "event_id")).alias(
                "argmax_event"
            ),
            F.min_by(
                "event_id", F.struct(F.col("value"), (-F.col("event_id")))
            ).alias("argmin_event"),
        )
        .orderBy("event_type")
    )


@query(
    "q47_distinct_agg",
    oracle="""
    SELECT count(DISTINCT user_id)                 AS n_users,
           count(DISTINCT (user_id, event_type))   AS n_user_types,
           CAST(sum(DISTINCT user_id) AS BIGINT)   AS sum_distinct_uid,
           count(DISTINCT CASE WHEN value > 50.0 THEN user_id END) AS n_users_big
    FROM events
    """,
)
def q47_distinct_agg(spark, sf_dir):
    """Multi-column and conditional DISTINCT aggregation — each distinct
    spec is its own expand+dedup path; Spark plans them in one Expand."""
    e = table(spark, sf_dir, "events")
    return e.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("user_id", "event_type").alias("n_user_types"),
        F.sum_distinct(F.col("user_id")).alias("sum_distinct_uid"),
        F.countDistinct(
            F.when(F.col("value") > 50.0, F.col("user_id"))
        ).alias("n_users_big"),
    )


@query(
    "q48_range_frame",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS n_last_hour
    FROM events ORDER BY event_id
    """,
)
def q48_range_frame(spark, sf_dir):
    """Time-range window frame: events per user in the trailing hour —
    RANGE BETWEEN over microsecond epoch (value-based frames, unlike the
    row-based frames of q15/q22). One shuffle on user_id."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
        )
        .orderBy("event_id")
    )


@query(
    "q50_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           min(value) AS vmin,
           max(value) AS vmax
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q50_salted_agg(spark, sf_dir):
    """Skew-salted two-stage aggregation over a genuinely hot key space
    (events has ~5 distinct event_types for every row in the table —
    exactly the shape where one reducer would merge all map-side partials
    of a hot key). Round-9: the salt factor is no longer hand-tuned —
    ``auto_salted_agg`` reads the key histogram (the x105 skew audit's
    per-key frame) and chooses n_salt = ceil(max_group/partial_budget),
    or SKIPS the salt stage entirely when the hottest key fits the
    budget (the plan is then the plain one-exchange groupBy —
    plan-asserted in tests/test_round9.py). The oracle is the PLAIN
    group-by: salting is a physical rewrite, so the result must be
    bitwise identical at ANY decision. Only exact aggregates (count /
    integer sum / min / max) are emitted — salting changes
    double-addition order, so float sums go through decimal moments as
    usual (q43)."""
    from ..operators.aggregates import auto_salted_agg

    e = table(spark, sf_dir, "events")
    return auto_salted_agg(
        e,
        ["event_type"],
        {
            "n": ("count", F.lit(1)),
            "sum_uid": ("sum", "user_id"),
            "vmin": ("min", "value"),
            "vmax": ("max", "value"),
        },
        partial_budget=10_000,
    ).orderBy("event_type")


@query(
    "q51_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q51_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between a nation PAIR, either
    direction): the disjunctive cross-table predicate
    ((n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A)) cannot be pushed below the joins, so
    the plan quality comes from join ordering — only the two nation
    aliases broadcast (truly bounded: 25 rows at any SF); supplier,
    orders, and customer all scale with SF and carry no hint (AQE still
    broadcasts them where they fit). Yearly decimal revenue sums."""
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    df = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), supp["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), cust["c_nationkey"] == F.col("n2_key"))
        .filter(pair)
    )
    return (
        df.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(volume.cast("decimal(22,6)")).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q52_tpch_q21",
    oracle="""
    SELECT s_suppkey, count(*) AS numwait FROM (
      SELECT DISTINCT l1.l_suppkey AS s_suppkey, l1.l_orderkey
      FROM lineitem l1
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
    ) GROUP BY s_suppkey
    HAVING numwait >= 2
    ORDER BY numwait DESC, s_suppkey
    """,
)
def q52_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS / NOT-EXISTS pair over the same fact with a non-equi
    component (same order, DIFFERENT supplier) — compiled to a left-semi
    and a left-anti self-join on l_orderkey with the inequality inside
    the join condition, so neither subquery materializes; both sides are
    column-pruned to (orderkey, suppkey[, returnflag])."""
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    other = li.select(
        F.col("l_orderkey").alias("o_ok"),
        F.col("l_suppkey").alias("o_sk"),
        "l_returnflag",
    )
    semi = l1.join(
        other,
        (l1["l_orderkey"] == other["o_ok"]) & (l1["l_suppkey"] != other["o_sk"]),
        "left_semi",
    )
    anti = semi.join(
        other.filter(F.col("l_returnflag") == "R"),
        (semi["l_orderkey"] == other["o_ok"]) & (semi["l_suppkey"] != other["o_sk"]),
        "left_anti",
    )
    return (
        anti.dropDuplicates(["l_suppkey", "l_orderkey"])
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .filter(F.col("numwait") >= 2)
        .orderBy(F.desc("numwait"), "s_suppkey")
    )


@query(
    "q53_null_safe_join",
    oracle="""
    WITH dim AS (SELECT DISTINCT nullif(event_type, 'error') AS k FROM events)
    SELECT dim.k, count(e.event_id) AS n
    FROM dim JOIN (SELECT event_id, nullif(event_type, 'error') AS k FROM events) e
      ON dim.k IS NOT DISTINCT FROM e.k
    GROUP BY dim.k
    ORDER BY dim.k NULLS FIRST
    """,
)
def q53_null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> ≡ IS NOT DISTINCT FROM): the NULL
    key row joins and counts, where a plain equi-join would silently drop
    it — the classic silent-data-loss bug in key-nullable enrichment."""
    e = table(spark, sf_dir, "events").select(
        "event_id", F.nullif("event_type", F.lit("error")).alias("k")
    )
    dim = e.select("k").distinct().select(F.col("k").alias("dim_k"))
    return (
        dim.join(e, dim["dim_k"].eqNullSafe(e["k"]))
        .groupBy(F.col("dim_k").alias("k"))
        .agg(F.count("event_id").alias("n"))
        .orderBy(F.col("k").asc_nulls_first())
    )


@query(
    "q54_analytic_windows",
    oracle="""
    SELECT o_custkey, o_orderkey,
           dense_rank()   OVER w_ties                          AS drnk,
           ntile(4)       OVER w_uniq                          AS quartile,
           percent_rank() OVER w_ties                          AS prnk,
           cume_dist()    OVER w_ties                          AS cdist,
           lead(o_totalprice, 1, -1.0) OVER w_uniq             AS next_price,
           first_value(o_orderkey) OVER w_uniq                 AS first_ok,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           )                                                   AS last_ok,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           )                                                   AS second_ok
    FROM orders
    WINDOW
      w_uniq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      w_ties AS (PARTITION BY o_custkey ORDER BY o_orderdate)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q54_analytic_windows(spark, sf_dir):
    """The rest of the analytic-window family beyond q15: dense_rank,
    ntile, percent_rank, cume_dist, lead-with-default, first/last/nth
    value with explicit unbounded frames (last_value's default frame ends
    at CURRENT ROW — the classic silent-wrong-answer; both engines get
    the full frame spelled out)."""
    o = table(spark, sf_dir, "orders")
    w_uniq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_ties = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    w_full = w_uniq.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_uniq).alias("quartile"),
        F.percent_rank().over(w_ties).alias("prnk"),
        F.cume_dist().over(w_ties).alias("cdist"),
        F.lead("o_totalprice", 1, -1.0).over(w_uniq).alias("next_price"),
        F.first_value("o_orderkey").over(w_uniq).alias("first_ok"),
        F.last_value("o_orderkey").over(w_full).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_ok"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q55_timestamp_battery",
    oracle="""
    SELECT event_id,
           epoch_us(ts)                                            AS micros,
           epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')         AS us_since_2024,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')   AS hour_start,
           strftime(date_trunc('week', ts), '%Y-%m-%d')            AS week_start,
           hour(ts)                                                AS h,
           minute(ts)                                              AS m,
           second(ts)                                              AS s,
           CAST(epoch_us(ts) % 1000000 AS BIGINT)                  AS sub_second_us
    FROM events ORDER BY event_id
    """,
)
def q55_timestamp_battery(spark, sf_dir):
    """Timestamp arithmetic at full µs precision: epoch micros, interval
    since a fixed instant, hour/week truncation, part extraction, and the
    sub-second µs component (events.ts genuinely carries microseconds —
    q22's original bug was truncating them)."""
    e = table(spark, sf_dir, "events")
    ts = F.col("ts")
    epoch = F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    return e.select(
        "event_id",
        F.unix_micros(ts).alias("micros"),
        (F.unix_micros(ts) - epoch).alias("us_since_2024"),
        F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        F.date_format(F.date_trunc("week", ts), "yyyy-MM-dd").alias("week_start"),
        F.hour(ts).alias("h"),
        F.minute(ts).alias("m"),
        F.second(ts).alias("s"),
        F.pmod(F.unix_micros(ts), F.lit(1_000_000)).alias("sub_second_us"),
    ).orderBy("event_id")


@query(
    "q56_map_battery",
    oracle="""
    SELECT event_id,
           m['type'][1]                          AS mtype,
           m['uid'][1]                           AS muid,
           CAST(cardinality(m) AS INTEGER)       AS n_entries,
           array_to_string(map_keys(m), ',')     AS ks
    FROM (
      SELECT event_id,
             map(['type','uid'], [event_type, CAST(user_id AS VARCHAR)]) AS m
      FROM events
    ) ORDER BY event_id
    """,
)
def q56_map_battery(spark, sf_dir):
    """Map-typed column battery: construction, key lookup, cardinality,
    key-list extraction (the OutputEvent Body map surface,
    `output/event.go:18`, beyond q40's to_json serialization). Insertion
    order of literal maps matches across engines; DuckDB subscripts
    return single-element lists, unwrapped in the oracle."""
    e = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return e.select(
        "event_id",
        F.element_at(m, "type").alias("mtype"),
        F.element_at(m, "uid").alias("muid"),
        F.size(m).alias("n_entries"),
        F.array_join(F.map_keys(m), ",").alias("ks"),
    ).orderBy("event_id")


@query(
    "q57_hof_battery",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(list_transform(ws, w -> length(w)), (a, b) -> a + b)
                AS BIGINT)                                              AS total_chars,
           CAST(len(list_filter(ws, w -> length(w) > 3)) AS INTEGER)   AS n_long,
           len(list_filter(ws, w -> w = 'the')) > 0                    AS has_the,
           len(list_filter(ws, w -> NOT length(w) < 20)) = 0           AS all_short,
           array_to_string(
             list_transform(list_zip(ws, range(1, len(ws) + 1)),
                            p -> p[1] || ':' || CAST(p[2] AS VARCHAR)),
             ' ')                                                      AS indexed
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ORDER BY doc_id
    """,
)
def q57_hof_battery(spark, sf_dir):
    """Higher-order array functions: transform+aggregate (fold), filter,
    exists, forall, zip_with — the lambda surface the sketch operators
    build on, isolated and oracle-checked (DuckDB: list_transform /
    list_reduce / list_filter / list_zip)."""
    d = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    total = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0),
        lambda a, x: a + x,
    ).cast("long")
    indexed = F.array_join(
        F.zip_with(
            ws,
            F.sequence(F.lit(1), F.size(ws)),
            lambda w, i: F.concat(w, F.lit(":"), i.cast("string")),
        ),
        " ",
    )
    return d.select(
        "doc_id",
        total.alias("total_chars"),
        F.size(F.filter(ws, lambda w: F.length(w) > 3)).alias("n_long"),
        F.exists(ws, lambda w: w == "the").alias("has_the"),
        F.forall(ws, lambda w: F.length(w) < 20).alias("all_short"),
        indexed.alias("indexed"),
    ).orderBy("doc_id")


_GROUPING_SETS_SQL = """
    SELECT n_name, o_orderpriority,
           CAST(grouping(n_name) AS INTEGER)          AS g_nation,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
           count(*) AS cnt
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), ())
    ORDER BY n_name NULLS FIRST, o_orderpriority NULLS FIRST
"""


@query("q58_grouping_sets_sql", oracle=_GROUPING_SETS_SQL)
def q58_grouping_sets_sql(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() flags, submitted through
    ``spark.sql`` — exercising the SQL parser entry point itself (SURVEY
    §2.6 lists SQL parsing among the reference's absent categories; every
    other query uses the DataFrame API). The oracle is the IDENTICAL SQL
    text run by DuckDB: one dialect-shared statement, two engines.
    grouping() distinguishes a real NULL group key from a rollup
    placeholder — the flag cube/rollup consumers actually need."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "q49_regexp_extract",
    oracle="""
    SELECT doc_id,
           regexp_extract(source, '([a-z]+)-([0-9]+)', 1) AS src_kind,
           regexp_extract(source, '([a-z]+)-([0-9]+)', 2) AS src_num,
           regexp_matches(source, '[0-9]$')               AS ends_digit
    FROM documents ORDER BY doc_id
    """,
)
def q49_regexp_extract(spark, sf_dir):
    """Regex group extraction + boolean match (regexp_extract group
    indexing ≡ DuckDB; rlike ≡ regexp_matches)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("source", "([a-z]+)-([0-9]+)", 1).alias("src_kind"),
        F.regexp_extract("source", "([a-z]+)-([0-9]+)", 2).alias("src_num"),
        F.col("source").rlike("[0-9]$").alias("ends_digit"),
    ).orderBy("doc_id")


# --- q59-q61: correlated-subquery battery ----------------------------------
# Each statement is ONE dialect-shared SQL text executed verbatim by both
# engines (the q58 pattern): Spark must decorrelate the subquery (Catalyst
# RewriteCorrelatedScalarSubquery / RewritePredicateSubquery plan semi/anti
# or aggregate joins — guarded in tests/test_plans.py), DuckDB runs its own
# flatten. Determinism: every aggregate the predicate depends on is an EXACT
# decimal/integer sum, so no double-summation-order boundary flip can occur.

_EXISTS_SQL = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query("q59_tpch_q4_exists", oracle=_EXISTS_SQL)
def q59_tpch_q4_exists(spark, sf_dir):
    """TPC-H Q4 shape (priority census of orders with >=1 returned line;
    the ref schema lacks commit/receipt dates so l_returnflag='R' stands in
    for the late-delivery mark): a correlated EXISTS that the engine must
    compile to a LEFT-SEMI join on l_orderkey — never a count-then-filter
    materialization. At 100 TB the semi join keeps only (l_orderkey) from
    the probe side after pushdown of the returnflag filter."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_SCALAR_CORR_SQL = """
    SELECT p_brand,
           count(*) AS small_lots,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
               AS small_lot_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 *
            (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
          < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    GROUP BY p_brand
    ORDER BY p_brand
"""


@query("q60_tpch_q17_scalar", oracle=_SCALAR_CORR_SQL)
def q60_tpch_q17_scalar(spark, sf_dir):
    """TPC-H Q17 shape (small-lot revenue: lines whose quantity is below
    20% of the part's average). The textbook predicate `l_quantity <
    0.2*avg(l_quantity)` divides in double, whose value depends on
    summation order; here it is algebraically rearranged to
    `5*qty*cnt < sum(qty)` over exact decimals, so the two correlated
    scalar aggregates are order-independent and the engines agree
    bit-for-bit. Catalyst decorrelates each subquery into an aggregate of
    lineitem grouped by l_partkey joined back — slim pruned scans, never a
    per-outer-row re-scan (plan-guarded in tests/test_plans.py)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_CORR_SQL)


_GLOBAL_SCALAR_SQL = """
    SELECT c_mktsegment,
           count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(22,6)))
                                   AS DOUBLE) / count(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


@query("q61_tpch_q22_anti", oracle=_GLOBAL_SCALAR_SQL)
def q61_tpch_q22_anti(spark, sf_dir):
    """TPC-H Q22 shape (well-funded customers with no urgent order):
    an UNCORRELATED scalar subquery (global mean balance — broadcast as a
    one-row value, computed once) plus a correlated NOT EXISTS that must
    become a LEFT-ANTI join on o_custkey. The mean is sum(exact
    decimal)/count evaluated with the identical expression on both
    engines, so the > comparison cannot flip on the boundary."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GLOBAL_SCALAR_SQL)


_CORR_MIN_SQL = """
    SELECT o_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS min_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND l_extendedprice = (SELECT min(l2.l_extendedprice)
                             FROM lineitem l2
                             WHERE l2.l_orderkey = o_orderkey)
    ORDER BY o_orderkey, l_linenumber
"""


@query("q62_tpch_q2_corr_min", oracle=_CORR_MIN_SQL)
def q62_tpch_q2_corr_min(spark, sf_dir):
    """TPC-H Q2 shape (the cheapest supplier per part, here: the cheapest
    line per urgent order): a correlated `= (SELECT min(...))` equality.
    The comparison is between a STORED double and the exact min of stored
    doubles — no arithmetic — so equality cannot drift between engines.
    Catalyst decorrelates to min-aggregate-then-join on l_orderkey; ties
    (several lines at the min price) all survive, identically on both
    engines."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORR_MIN_SQL)


_NOT_IN_SQL = """
    SELECT c_mktsegment, count(*) AS n_quiet,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(22,6))) AS DOUBLE) AS bal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


@query("q63_not_in_null_aware", oracle=_NOT_IN_SQL)
def q63_not_in_null_aware(spark, sf_dir):
    """NOT IN subquery — the null-aware anti join. Semantically equal to
    q61's NOT EXISTS only because o_custkey is non-null; under NULLs,
    NOT IN returns no rows at all, and Spark must plan a NULL-AWARE anti
    join to honor that (plan guard asserts NullAwareAntiJoin). 100 TB
    note: Spark supports NAAJ exclusively as a BROADCAST hash join — the
    subquery side must be bounded. When keys are provably non-null,
    rewrite to NOT EXISTS (q61) and get a shuffle-capable LeftAnti; this
    entry exists to cover the semantics and assert the NAAJ plan. The
    ENGINE DEFAULT for NOT IN is q78's rewrite (operators.joins.not_in),
    which keeps the exact null semantics without the broadcast wall."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_NOT_IN_SQL)


@query("q78_not_in_rewrite", oracle=_NOT_IN_SQL)
def q78_not_in_rewrite(spark, sf_dir):
    """q63's NOT IN in the ENGINE-DEFAULT phrasing: ``joins.not_in``
    decomposes the null-aware semantics into a plain shuffle-capable
    LeftAnti against the subquery's distinct non-null keys plus a 1-row
    broadcast empty/has-null flag filter — same truth table (same DuckDB
    oracle as q63 proves it value-for-value), no broadcast-only NAAJ.
    Plan guard (test_plans) asserts the LeftAnti is NOT null-aware, i.e.
    free to be a shuffled join when the subquery side outgrows the
    broadcast threshold."""
    from ..operators.joins import not_in

    customer = table(spark, sf_dir, "customer")
    sub = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    quiet = not_in(customer, sub, "c_custkey", "o_custkey")
    return (
        quiet.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_quiet"),
            money_sum6("c_acctbal").alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


_DISJUNCTIVE_SQL = """
    SELECT p_brand, count(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    GROUP BY p_brand
    ORDER BY p_brand
"""


@query("q64_tpch_q19_disjunctive", oracle=_DISJUNCTIVE_SQL)
def q64_tpch_q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: an OR-of-ANDs predicate mixing both join sides.
    The engine must keep the p_partkey = l_partkey equi-join and evaluate
    the disjunction as a post-join filter — NOT degrade to a nested-loop
    join — and push the single-sided prefix of the OR (brand/size on
    part, quantity on lineitem) down each scan. Plan guard asserts a hash
    join plus an OR'd DataFilter on both scans."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_DISJUNCTIVE_SQL)


@query(
    "q65_tpch_q13_custdist",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q65_tpch_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution). The teaching
    point: the o_orderpriority predicate lives in the OUTER-join
    condition, not a WHERE — moving it to a post-join filter would drop
    zero-order customers, so the engine must keep it join-local (where it
    still pushes to the orders scan, which is safe for the preserved
    side's NULL-extension). Double aggregation: the first groupBy shuffles
    on c_custkey; the second input is one row per customer with a tiny
    integer key — cheap at any scale."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (cust["c_custkey"] == orders["o_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q66_tpch_q20_nested_in",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem l1
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      GROUP BY l_suppkey, l_partkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
             0.15 * (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                                AS DOUBLE)
                    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
    )
    ORDER BY s_suppkey
    """,
)
def q66_tpch_q20_nested_in(spark, sf_dir):
    """TPC-H Q20 shape (no partsupp table in the testdata, so the
    correlated quantity threshold moves onto lineitem): suppliers that
    shipped >15% of some PROMO part's total shipped quantity. The oracle
    keeps the reference formulation — IN-subquery wrapping a correlated
    scalar aggregate in HAVING; the Spark side is the decorrelated plan a
    100 TB engine should run: both aggregates group/shuffle on l_partkey
    (co-partitioned join, no broadcast of fact-derived data), then a
    left-semi join reduces supplier. Quantity sums are exact decimal so
    the 0.15× comparison is bit-identical across engines."""
    part_promo = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey", "l_quantity")
        .join(
            part_promo,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
    )
    per_supp_part = li.groupBy("l_suppkey", "l_partkey").agg(
        money_sum("l_quantity").alias("sp_qty")
    )
    per_part = li.groupBy("l_partkey").agg(money_sum("l_quantity").alias("p_qty"))
    qualified = (
        per_supp_part.join(per_part, "l_partkey")
        .filter(F.col("sp_qty") > 0.15 * F.col("p_qty"))
        .select("l_suppkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supp.join(
        qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).orderBy("s_suppkey")


@query(
    "q67_tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q67_tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: an aggregated view compared against its own
    global max (scalar subquery). Spark side reuses ONE revenue frame for
    both the rows and the scalar (the SQL view is named once for the same
    reason); the 1-row max side broadcasts, so the "scalar subquery" is a
    broadcast join, never a second shuffle. Revenue is decimal-summed,
    making the double equality against max() exact on both engines."""
    li = table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            money_sum6(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    mx = F.broadcast(revenue.agg(F.max("total_revenue").alias("mx")))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        supp.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(mx, F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q68_tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE 0 END AS DECIMAL(22,6))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(22,6))) AS DOUBLE)
             AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q68_tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): the widest join tree in
    the inventory — lineitem ⋈ part ⋈ supplier ⋈ orders ⋈ customer ⋈
    nation×2 ⋈ region — with a conditional-fraction aggregate. Bounded
    dims (nation aliases, region) broadcast; supplier, part, orders,
    customer scale with SF and carry no hint (AQE decides). Numerator and
    denominator are decimal-summed independently, then divided in double
    — same expression order as the oracle, so the ratio is bit-stable."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = (
        table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    df = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), supp["s_nationkey"] == F.col("n2_key"))
    )
    num = F.when(F.col("nation") == "NATION_3", volume).otherwise(
        F.lit(0).cast("decimal(22,6)")
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(num).cast("double") / F.sum(volume).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q69_tpch_q6_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q69_tpch_q6_forecast(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): the pure scan-filter-agg
    — no join, no groupBy, ONE row out. Every predicate is
    parquet-pushable (range on shipdate, between on discount, < on
    quantity), so at 100 TB this is an embarrassingly parallel scan whose
    only exchange is the final 1-row partial-agg merge. The l_ext*l_disc
    product is computed in double (identical IEEE expression both
    engines) then decimal-summed, so the single output value is
    bit-identical under any partitioning."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        money_sum6(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue"
        )
    )


@query(
    "q70_tpch_q9_profit",
    oracle="""
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(22,6))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.1 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q70_tpch_q9_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation/year). The slimmed
    schema has no partsupp, so supply cost is proxied as
    0.1*p_retailprice*l_quantity — the SHAPE is unchanged: a LIKE-filtered
    part list prunes lineitem, then supplier/orders/nation attach
    attributes and profit aggregates over (nation, year). part filtered by
    LIKE scales with SF → no broadcast hint (AQE decides); nation is the
    only forced broadcast. The profit expression is evaluated in double
    with the identical operand order both engines, then decimal-summed."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money_sum6(amount).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


@query(
    "q71_tpch_q10_returns",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q71_tpch_q10_returns(spark, sf_dir):
    """TPC-H Q10 shape (top returned-item customers): fact⋈fact join on
    a quarter-pruned orders, flag-filtered lineitem, then top-20 by
    revenue. orders/customer scale with SF → no hint; nation broadcasts.
    The final ORDER BY ... LIMIT is a TakeOrdered — per-partition top-20
    before a single 20-row merge, so the sort never materializes globally.
    c_custkey tie-break pins the LIMIT boundary deterministically."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            money_sum6(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q72_tpch_q11_important",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,6))) AS DOUBLE) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM pv
    WHERE part_value > (
      SELECT CAST(SUM(CAST(part_value AS DECIMAL(22,6))) AS DOUBLE) * 0.001
      FROM pv
    )
    ORDER BY part_value DESC, l_partkey
    """,
)
def q72_tpch_q11_important(spark, sf_dir):
    """TPC-H Q11 shape (important stock): a grouped value compared against
    a FRACTION of its own global total — HAVING against a scalar subquery
    over the same derived table. No partsupp in the slimmed schema, so
    part value = nation-filtered lineitem revenue per part. The pv frame
    is built ONCE and feeds both the rows and the 1-row global sum (which
    broadcasts — the "scalar subquery" costs one extra partial-agg, never
    a second scan of lineitem). Threshold arithmetic: decimal-exact sums
    on both sides, scaled by 0.001 in double with identical expression
    order, so the > comparison is bit-stable."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    pv = (
        li.join(supp.join(F.broadcast(nation),
                supp["s_nationkey"] == nation["n_nationkey"]).select("s_suppkey"),
                li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            money_sum6(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("part_value")
        )
    )
    threshold = F.broadcast(
        pv.agg(
            (
                F.sum(F.col("part_value").cast("decimal(22,6)")).cast("double")
                * 0.001
            ).alias("thr")
        )
    )
    return (
        pv.join(threshold, F.col("part_value") > F.col("thr"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), F.col("l_partkey"))
    )


@query(
    "q73_tpch_q12_shipmode",
    oracle="""
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30
                THEN 'fast'
                WHEN date_diff('day', o_orderdate, l_shipdate) < 90
                THEN 'normal' ELSE 'slow' END AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY ship_bucket
    ORDER BY ship_bucket
    """,
)
def q73_tpch_q12_shipmode(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority split). No l_shipmode in
    the slimmed schema, so the grouping key is a derived ship-latency
    bucket (orderdate→shipdate gap) — the shape is intact: fact⋈fact
    equi-join, a CASE-derived low-cardinality group key, and two
    conditional counts in one pass. Both CASE sums are integer (no float
    drift); datediff on midnight-aligned timestamps is exact in both
    engines."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < 30, "fast").when(delay < 90, "normal").otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@query(
    "q74_tpch_q14_promo",
    oracle="""
    SELECT 100.0
           * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END AS DECIMAL(22,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,6))) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q74_tpch_q14_promo(spark, sf_dir):
    """TPC-H Q14 shape (promo revenue share): month-pruned lineitem joins
    part for a conditional-fraction single-row aggregate. part carries no
    filter but scales with SF → no broadcast hint; the month filter prunes
    lineitem at the scan. Numerator and denominator decimal-summed
    independently, then 100.0*num/den evaluated in double with identical
    operand order both engines."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("double")
    )
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo.cast("decimal(22,6)")).cast("double")
                / F.sum(rev.cast("decimal(22,6)")).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "q75_tpch_q16_suppcnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q75_tpch_q16_suppcnt(spark, sf_dir):
    """TPC-H Q16 shape (supplier count by part class): negated predicates
    + IN-list on part, a NOT IN subquery excluding complaint suppliers
    (≡ anti-join — s_suppkey is non-null so NOT IN and ANTI agree), and
    COUNT(DISTINCT) per group. The anti-join side is a filtered supplier
    key list — SF-scaled, so it carries no forced hint (AQE broadcasts
    it where it fits). distinct-count shuffles once on the group key
    with partial distinct aggregation map-side."""
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 13)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(
            bad_supp,
            li["l_suppkey"] == bad_supp["s_suppkey"],
            "left_anti",
        )
        .join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )
