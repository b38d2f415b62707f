"""Q21–Q22 — batch-expressible forms of the reference's *stateful* operators.

The reference's flagship behaviors are keyed-state programs
(`s2s_rules/cloudTrail_s2s_join.go`, `agg_rules/cloudTrail_agg.go`). Their
true streaming forms live in ``go_fish_spark.streaming``; these queries pin
the *semantics* in a deterministic, oracle-checkable batch form, because the
state-lookup patterns are exactly expressible as event-time window
functions:

* "KV lookup of the most recent write for this key" ≡ ``last(...) IGNORE
  NULLS OVER (PARTITION BY key ORDER BY time)`` — an as-of self-join.
* "session/window state with drain" ≡ gap-based sessionization via a
  running sum of new-session flags.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..tasks import get_task
from . import query
from .util import duck_ts_str, ts_str


@query(
    "q21_s2s_asof_join",
    oracle="""
    SELECT event_id, entity FROM (
      SELECT event_id, event_type,
             coalesce(
               last_value(reg_name IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               CAST(user_id AS VARCHAR)
             ) AS entity
      FROM (
        SELECT event_id, ts, user_id, event_type,
               CASE WHEN event_type = 'signup'
                    THEN 'user/' || CAST(user_id AS VARCHAR) END AS reg_name
        FROM events
      )
    ) WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def q21_s2s_asof_join(spark, sf_dir):
    """Stream-to-stream enrichment with "latest seen" keyed state ≡
    `cloudTrail_s2s_join.go:68-78` (AssumeRole writes kv[key]=principal) +
    `:124-130` (later events read kv[key], falling back to the raw id).

    Batch as-of form: for each 'purchase' event, the entity is the principal
    written by the latest 'signup' of the same user at-or-before the event's
    time; a user with no prior signup falls back to the raw user_id —
    exactly the KV-miss branch. One shuffle on user_id, no state store."""
    events = table(spark, sf_dir, "events")
    reg = F.when(
        F.col("event_type") == "signup",
        F.concat(F.lit("user/"), F.col("user_id").cast("string")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = events.withColumn(
        "entity",
        F.coalesce(
            F.last(reg, ignorenulls=True).over(w), F.col("user_id").cast("string")
        ),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select("event_id", "entity")
        .orderBy("event_id")
    )


@query(
    "q22_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           {duck_ts_str('min(ts)')} AS session_start
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q22_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) — the batch analogue
    of a streaming session window (`F.session_window``), which generalizes
    the reference's drain-on-interval state pattern (`window.go:38-49`)."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # Gap compared at full microsecond precision (events.ts carries µs);
    # cast("long") would truncate to seconds and misclassify any gap
    # within 1 s of the 30-min boundary vs the oracle's interval compare.
    new_session = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 30 * 60 * 1_000_000),
        1,
    ).otherwise(0)
    sessions = events.withColumn("session_id", F.sum(new_session).over(run))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ts_str(F.min("ts")).alias("session_start"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q41_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    )
    SELECT user_id,
           {duck_ts_str('min(ts)')} AS session_start,
           {duck_ts_str("max(ts) + INTERVAL 30 MINUTE")} AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q41_session_window(spark, sf_dir):
    """The native ``F.session_window`` operator itself (not the q22
    gap-sum emulation), batch-side: per-user 30-min-gap sessions with
    merged [start, last+gap) bounds — the declarative generalization of
    the reference's drain-on-interval state pattern (`window.go:38-49`).

    Semantics pinned by the oracle: Spark's session window END is
    exclusive (an event arriving exactly at prev_ts + gap starts a NEW
    session), hence the oracle's ``>= INTERVAL 30 MINUTE`` flag — q22's
    emulation uses ``>`` and is a deliberately different (SQL-classic)
    contract. One shuffle on user_id; in streaming the same expression
    runs under a watermark (tests/test_streaming.py)."""
    events = table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        events.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ts_str(F.col("session_window.start")).alias("session_start"),
            ts_str(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "q76_sliding_window",
    oracle=f"""
    WITH w AS (
      SELECT {duck_ts_str("time_bucket(INTERVAL '15 minutes', ts) "
                          "- k * INTERVAL '15 minutes'")} AS win_start,
             event_type
      FROM events, (SELECT unnest(range(4)) AS k)
    )
    SELECT win_start, event_type, count(*) AS occurrences
    FROM w GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def q76_sliding_window(spark, sf_dir):
    """SLIDING windows (1 h window, 15 min slide) — the overlapping
    upgrade of q10's tumbling windows: each event lands in exactly
    window/slide = 4 windows. Spark's ``window(ts, '1 hour', '15
    minutes')`` generates slide-aligned (epoch/UTC) window starts; the
    oracle reproduces the membership arithmetic directly — the k-th
    containing window starts at time_bucket(15 min, ts) − k·15 min for
    k ∈ 0..3 (ts − start = (ts − bucket) + k·15 min < 1 h always, so
    membership is exactly these four). Same groupBy shuffle shape as
    tumbling — the ×4 row fan-out happens map-side before the partial
    aggregation."""
    e = table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(win.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .select(
            ts_str(F.col("win.start")).alias("win_start"),
            "event_type",
            "occurrences",
        )
        .orderBy("win_start", "event_type")
    )


@query(
    "q82_event_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    ),
    seq AS (
      SELECT user_id, session_id,
             list(event_type ORDER BY ts, event_id) AS t
      FROM sessions GROUP BY user_id, session_id
    ),
    paths AS (
      SELECT unnest(
        CASE WHEN len(t) >= 3
             THEN [t[i] || '>' || t[i+1] || '>' || t[i+2]
                   for i in range(1, len(t) - 1)]
             ELSE CAST([] AS VARCHAR[]) END
      ) AS path
      FROM seq
    )
    SELECT path, count(*) AS n_occurrences
    FROM paths GROUP BY path
    ORDER BY n_occurrences DESC, path LIMIT 20
    """,
)
def q82_event_paths(spark, sf_dir):
    """Behavioral path analysis — the top 3-step event-type sequences
    WITHIN user sessions (q22's 30-min gap sessions): the "what do
    users actually do" report beside q80's fixed funnel. Sessions are
    per-user ordered sequences (array_sort over (ts, event_id, type)
    structs — a total order, so the path strings are deterministic),
    3-grams are built array-side per session (no self-joins), and the
    global top-20 is a count groupBy + TakeOrdered. Per-session state
    is bounded by session length; the only corpus shuffles are the
    session groupBy and the bounded path counts."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (
            F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    sessions = events.withColumn("session_id", F.sum(new_session).over(run))
    seq = sessions.groupBy("user_id", "session_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("_s")
    )
    types = F.transform(F.col("_s"), lambda s: s["event_type"])
    grams = F.when(
        F.size(types) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(types) - 2),
            lambda i: F.concat_ws(
                ">",
                F.element_at(types, i),
                F.element_at(types, i + 1),
                F.element_at(types, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        seq.select(F.explode(grams).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(20)
    )


@query(
    "q84_transition_entropy",
    oracle="""
    WITH tr AS (
      SELECT event_type AS prev_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    c AS (
      SELECT prev_type, next_type, count(*) AS _c
      FROM tr WHERE next_type IS NOT NULL GROUP BY prev_type, next_type
    ),
    tot AS (
      SELECT prev_type, CAST(sum(_c) AS BIGINT) AS _t,
             count(*) AS n_next_types
      FROM c GROUP BY prev_type
    ),
    terms AS (
      SELECT c.prev_type, t._t, t.n_next_types,
             CAST(round(
               (CAST(c._c AS DOUBLE) / CAST(t._t AS DOUBLE))
               * ln(CAST(c._c AS DOUBLE) / CAST(t._t AS DOUBLE)), 12)
             AS DECIMAL(27,18)) AS term
      FROM c JOIN tot t USING (prev_type)
    )
    SELECT prev_type AS event_type,
           min(_t) AS n_transitions,
           CAST(min(n_next_types) AS BIGINT) AS n_next_types,
           round(CAST(-sum(term) AS DOUBLE), 9) AS entropy
    FROM terms GROUP BY prev_type ORDER BY event_type
    """,
)
def q84_transition_entropy(spark, sf_dir):
    """Markov transition entropy of user behavior — for each event type,
    the Shannon entropy of WHAT USERS DO NEXT (successor chosen by each
    user's time-ordered stream): H(type) = −Σ p̂(next|type)·ln p̂(next|type).
    Low entropy = a funnel edge (one dominant successor); max entropy
    (ln n_next_types) = no behavioral signal — the summary q82's raw
    path counts don't provide.

    100 TB shape: successor extraction is ONE user-keyed exchange+sort
    (a lead window over (ts, event_id) — a TOTAL order, so the
    transition multiset is deterministic); everything downstream is
    bounded by the event-type vocabulary (≤ types² transition cells,
    then a ≤ types-row report) — no second corpus pass, no join against
    unbounded frames.

    Cross-engine float discipline: p̂ divides exact BIGINTs as DOUBLE;
    each p·ln p term is round-12 then DECIMAL(27,18) so the per-type SUM
    is order-independent; round-9 final (the x34/x60 recipe)."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = tr.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = c.groupBy("prev_type").agg(
        F.sum("_c").alias("_t"),
        F.count(F.lit(1)).alias("n_next_types"),
    )
    p = F.col("_c").cast("double") / F.col("_t").cast("double")
    term = F.round(p * F.log(p), 12).cast("decimal(27,18)")
    return (
        c.join(F.broadcast(tot), "prev_type")
        .select("prev_type", "_t", "n_next_types", term.alias("term"))
        .groupBy("prev_type")
        .agg(
            F.min("_t").alias("n_transitions"),
            F.min("n_next_types").alias("n_next_types"),
            F.round((-F.sum("term")).cast("double"), 9).alias("entropy"),
        )
        .select(
            F.col("prev_type").alias("event_type"),
            "n_transitions",
            "n_next_types",
            "entropy",
        )
        .orderBy("event_type")
    )


@query(
    "q86_daily_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS n_events
      FROM events GROUP BY event_type, d
    ),
    stats AS (
      SELECT event_type, d, n_events,
        count(*) OVER w AS _k,
        CAST(sum(n_events) OVER w AS BIGINT) AS _sx,
        CAST(sum(n_events * n_events) OVER w AS BIGINT) AS _sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n_events,
           round(CAST(_sx AS DOUBLE) / CAST(_k AS DOUBLE), 9)
             AS trailing_mean,
           round((CAST(n_events AS DOUBLE)
                  - CAST(_sx AS DOUBLE) / CAST(_k AS DOUBLE))
                 / sqrt((CAST(_sxx AS DOUBLE)
                         - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)
                           / CAST(_k AS DOUBLE))
                        / CAST(_k - 1 AS DOUBLE)), 9) AS zscore,
           abs((CAST(n_events AS DOUBLE)
                - CAST(_sx AS DOUBLE) / CAST(_k AS DOUBLE))
               / sqrt((CAST(_sxx AS DOUBLE)
                       - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE)
                         / CAST(_k AS DOUBLE))
                      / CAST(_k - 1 AS DOUBLE))) >= 2.0 AS is_anomaly
    FROM stats
    WHERE _k >= 4
      AND _sxx * _k > _sx * _sx
    ORDER BY event_type, day
    """,
)
def q86_daily_anomaly(spark, sf_dir):
    """Daily event-volume anomaly detection — per event type, each day's
    count z-scored against its own 7-day trailing window (the classic
    ops-monitoring control chart the reference's CloudWatch counters
    feed into): z = (x − μ) / s over the preceding ≤7 days, flagged at
    |z| ≥ 2. Warm-up days (< 4 prior days) and zero-variance windows
    (all-equal trailing counts: s = 0, z undefined) are excluded.

    100 TB shape: the daily rollup is ONE (type, day) exchange with
    map-side combine down to a calendar-bounded frame (≤ types × span
    rows); the trailing window runs on THAT bounded frame, never the
    raw events. The frame is ROWS-based over observed days — at daily
    event volumes the calendar is dense, and a silent day shifts the
    baseline window rather than zero-filling (document the contract; a
    RANGE-interval frame is the alternative when gaps are expected).

    Cross-engine float discipline: the window reduces to EXACT integer
    sums (k, Σx, Σx²) — counts are longs, so no decimal laundering is
    needed; mean/z are single fixed-order double expressions over those
    exact integers, absorbed by round-9. The zero-variance guard
    compares integers (Σx²·k > (Σx)²), not a float ≠ 0."""
    events = table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "event_type",
        "d",
        "n_events",
        F.count(F.lit(1)).over(w).alias("_k"),
        F.sum("n_events").over(w).alias("_sx"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("_sxx"),
    )
    x = F.col("n_events").cast("double")
    k = F.col("_k").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    mean = sx / k
    z = (x - mean) / F.sqrt((sxx - sx * sx / k) / (k - F.lit(1.0)))
    return (
        stats.filter(
            (F.col("_k") >= 4)
            & (F.col("_sxx") * F.col("_k") > F.col("_sx") * F.col("_sx"))
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.round(mean, 9).alias("trailing_mean"),
            F.round(z, 9).alias("zscore"),
            (F.abs(z) >= 2.0).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q87_disorder_profile",
    oracle="""
    WITH e AS (
      SELECT event_type AS t,
             2 * event_id
               + CASE WHEN event_id % 13 = 0 THEN 81 ELSE 0 END AS a,
             epoch_us(ts) AS us
      FROM events
    ),
    b AS (SELECT t, a, us, a // 8192 AS blk FROM e),
    w AS (SELECT t, a, us, blk,
            max(us) OVER (PARTITION BY blk ORDER BY a
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS wm
          FROM b),
    bm AS (SELECT blk, max(us) AS bmax FROM b GROUP BY blk),
    pm AS (SELECT blk,
             coalesce(max(bmax) OVER (ORDER BY blk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -4611686018427387904) AS pmax
           FROM bm),
    d AS (SELECT w.t,
            greatest(greatest(coalesce(w.wm, -4611686018427387904),
                              pm.pmax) - w.us, 0) AS dis_us
          FROM w JOIN pm USING (blk))
    SELECT t AS event_type,
      CASE WHEN dis_us = 0 THEN -1
           WHEN dis_us // 1000000 = 0 THEN 0
           ELSE CAST(pow(2, floor(log2(CAST(dis_us // 1000000 AS DOUBLE))))
                     AS BIGINT)
      END AS disorder_bucket_lo_sec,
      count(*) AS n_events
    FROM d GROUP BY t, disorder_bucket_lo_sec
    ORDER BY event_type, disorder_bucket_lo_sec
    """,
)
def q87_disorder_profile(spark, sf_dir):
    """Event-stream out-of-orderness profile (profile.disorder_profile)
    — the measurement a streaming watermark delay is SIZED from: each
    event's event-time displacement behind the running arrival-order
    maximum, bucketed power-of-2 seconds per type; the bucket tail
    above a candidate ``withWatermark`` delay is exactly what that
    delay would drop. The testdata's ingest order is perfectly sorted,
    so (x94's synthetic-slice precedent) arrival is perturbed
    deterministically — arrival = 2·event_id, with every 13th event
    delayed 81 half-slots (~40 positions late). The odd offset lands
    delayed arrivals on ODD keys and punctual ones on EVEN keys, so
    arrival stays a TOTAL order (a collision would make the running
    max's tie handling layout-dependent and break the hash check) —
    exercising the late path in both arms identically.

    100 TB shape: the exact global running max runs WITHOUT a
    single-task window (per-block parallel windows + a prefix max over
    the n/block block-max frame — the value_bucketed_rank two-level
    shape); the rollup is a ≤ types × 40-bucket groupBy. All integer
    microsecond arithmetic, no float anywhere but the pow-of-2 bucket
    label."""
    from ..operators.profile import disorder_profile

    events = table(spark, sf_dir, "events")
    arrival = 2 * F.col("event_id") + F.when(
        F.col("event_id") % 13 == 0, 81
    ).otherwise(0)
    return disorder_profile(events, "event_type", arrival, "ts")


@query(
    "q89_user_lifecycle",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    cls AS (
      SELECT d,
             lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
      FROM ud
    ),
    daily AS (
      SELECT d,
             count(*) AS n_active,
             count(*) FILTER (WHERE prev_d IS NULL) AS n_new,
             count(*) FILTER (WHERE date_diff('day', prev_d, d) = 1)
               AS n_retained,
             count(*) FILTER (WHERE date_diff('day', prev_d, d) > 1)
               AS n_resurrected
      FROM cls GROUP BY d
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_retained AS BIGINT) AS n_retained,
           CAST(n_resurrected AS BIGINT) AS n_resurrected,
           CAST(lag(n_active) OVER (ORDER BY d) - n_retained AS BIGINT)
             AS n_churned
    FROM daily ORDER BY day
    """,
)
def q89_user_lifecycle(spark, sf_dir):
    """Growth accounting — the daily new/retained/resurrected/churned
    decomposition of the active-user count (the standard DAU ledger;
    q83's cohort matrix answers "how do cohorts decay", this answers
    "where did today's actives come from and who left"): a user is NEW
    on their first active day, RETAINED if active yesterday too,
    RESURRECTED if returning across a gap; CHURNED(t) =
    active(t−1) − retained(t) — derived arithmetically on the daily
    frame, NULL on the first observed day. Days with zero actives
    don't occur in this corpus; across a silent day the lag refers to
    the previous OBSERVED day (documented contract).

    100 TB shape: ONE distinct (user, day) fold (the q83 shuffle), a
    per-user lag window over calendar-bounded per-user day lists, then
    everything is ≤ span-row arithmetic. All integer counts."""
    events = table(spark, sf_dir, "events")
    ud = events.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).distinct()
    wu = Window.partitionBy("user_id").orderBy("d")
    cls = ud.select("d", F.lag("d").over(wu).alias("prev_d"))
    gap = F.datediff("d", "prev_d")
    daily = cls.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("prev_d").isNull(), 1).otherwise(0)).alias(
            "n_new"
        ),
        F.sum(F.when(gap == 1, 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(gap > 1, 1).otherwise(0)).alias("n_resurrected"),
    )
    wd = Window.orderBy("d")
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        (F.lag("n_active").over(wd) - F.col("n_retained"))
        .cast("bigint")
        .alias("n_churned"),
    ).orderBy("day")


@query(
    "q90_funnel_timing",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click, min(v.t_view) AS t_view
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase, min(c.t_click) AS t_click
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ),
    durs AS (
      SELECT 'view>click' AS step_pair,
             epoch_us(t_click) - epoch_us(t_view) AS dur_us FROM c
      UNION ALL
      SELECT 'click>purchase',
             epoch_us(t_purchase) - epoch_us(t_click) FROM p
    )
    SELECT step_pair,
      CASE WHEN dur_us // 60000000 = 0 THEN 0
           ELSE CAST(pow(2, floor(log2(CAST(dur_us // 60000000 AS DOUBLE))))
                     AS BIGINT)
      END AS duration_bucket_lo_min,
      count(*) AS n_users
    FROM durs GROUP BY step_pair, duration_bucket_lo_min
    ORDER BY step_pair, duration_bucket_lo_min
    """,
)
def q90_funnel_timing(spark, sf_dir):
    """Funnel step TIMING — q80 counts who converts; this measures how
    long conversion takes: for each completed step pair (first view →
    first subsequent click, first click → first subsequent purchase),
    the user's duration folded into power-of-2 minute buckets (bucket 0
    = under a minute). The latency histogram a funnel-optimization
    decision reads next to the conversion counts.

    100 TB shape: the same ordered-first-occurrence chain as q80 (one
    user-keyed exchange per step, each a groupBy-min with the
    order-constraint filter pushed into the join), then a ≤ pairs ×
    ~40-bucket groupBy. Integer microsecond arithmetic end-to-end."""
    events = table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.min("t_view").alias("t_view"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("t_purchase"),
            F.min("t_click").alias("t_click"),
        )
    )
    durs = c.select(
        F.lit("view>click").alias("step_pair"),
        (F.unix_micros("t_click") - F.unix_micros("t_view")).alias(
            "dur_us"
        ),
    ).unionByName(
        p.select(
            F.lit("click>purchase").alias("step_pair"),
            (F.unix_micros("t_purchase") - F.unix_micros("t_click")).alias(
                "dur_us"
            ),
        )
    )
    dur_min = F.expr("dur_us div 60000000")
    bucket = F.when(dur_min == 0, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2(dur_min.cast("double")))).cast(
            "bigint"
        )
    )
    return (
        durs.select(
            "step_pair",
            bucket.cast("bigint").alias("duration_bucket_lo_min"),
        )
        .groupBy("step_pair", "duration_bucket_lo_min")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("step_pair", "duration_bucket_lo_min")
    )


@query(
    "q91_certstream_decode",
    oracle="""
    WITH e AS (
      SELECT md5('certs0|' || CAST(i AS VARCHAR)) AS h
      FROM range(500) t(i)
    ),
    ev AS (
      SELECT ['LetsEncrypt', 'DigiCert', 'Sectigo', 'GlobalSign']
               [1 + CAST(('0x' || substr(h, 10, 1)) AS INT) % 4] AS issuer,
             CAST(('0x' || substr(h, 13, 1)) AS INT) % 2 = 0 AS has_www
      FROM e
    )
    SELECT issuer, count(*) AS n_events,
           CAST(count(*) FILTER (WHERE has_www) AS BIGINT) AS n_with_www,
           round(CAST(count(*) FILTER (WHERE has_www) AS DOUBLE)
                 / count(*), 9) AS www_rate
    FROM ev GROUP BY issuer ORDER BY issuer
    """,
)
def q91_certstream_decode(spark, sf_dir):
    """The custom Python DataSource under the oracle contract: 500
    events from ``gofish_certstream`` (sources/pyds.py — Spark 4's
    pluggable-source API, ≡ the reference's input plugins) through the
    CertStream decode step (`domain_cert_issued.go:33-54`'s array-regex
    shape), rolled up per issuer with the www-SAN rate. The source is a
    PURE function of (seed, i) built from md5, so DuckDB REGENERATES
    the identical event stream from range(500) + the same md5
    arithmetic — the whole pluggable source, not just the decode, is
    hash-checked. Batch arm here; the offset-checkpointed streaming arm
    is pinned by tests/test_pyds.py."""
    from ..sources import pyds

    pyds.register(spark)
    events = (
        spark.read.format("gofish_certstream")
        .option("n_rows", 500).option("seed", "certs0").load()
    )
    dec = pyds.decode_cert_events(events)
    return (
        dec.groupBy("issuer")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("has_www_san"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_with_www"),
            F.round(
                F.sum(F.when(F.col("has_www_san"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("www_rate"),
        )
        .orderBy("issuer")
    )


@query(
    "q92_pit_training_set",
    oracle="""
    WITH feat AS (
      SELECT user_id,
             count(*) AS n_events_before,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_before,
             CAST(date_diff('day', CAST(max(ts) AS DATE),
                            DATE '2024-01-21') AS INT) AS recency_days,
             CAST(sum(CAST(round(value, 12) AS DECIMAL(27,18)))
                  AS DOUBLE) AS total_value
      FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
      GROUP BY user_id
    ),
    lab AS (
      SELECT DISTINCT user_id, TRUE AS purchased
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= TIMESTAMP '2024-01-21 00:00:00'
        AND ts < TIMESTAMP '2024-01-28 00:00:00'
    )
    SELECT f.user_id, f.n_events_before, f.n_types_before,
           f.recency_days, round(f.total_value, 6) AS total_value,
           coalesce(l.purchased, FALSE) AS label_purchase
    FROM feat f LEFT JOIN lab l ON f.user_id = l.user_id
    ORDER BY f.user_id
    """,
)
def q92_pit_training_set(spark, sf_dir):
    """Point-in-time training-set construction — the feature-store
    staple, and the TEMPORAL twin of the decontamination family: build
    per-user features from STRICTLY before the cutoff (activity counts,
    type breadth, recency, decimal-exact value total as of 2024-01-21)
    and the label from STRICTLY the following window (made a PURCHASE
    in the next 7 days — the rare event, so both classes exist), so no
    feature can see the label period — temporal leakage is the
    time-axis version of what the eval-contamination guards (x21/x45)
    protect against. Users with no pre-cutoff history are absent (no
    features to train on); non-purchasers get FALSE. The features are
    the ``pit_features`` task's batch arm, the body its streaming arm
    runs once per micro-batch over (KV ∪ batch).

    100 TB shape: ONE user-keyed exchange per side of the cutoff (both
    filters push to the scan), then a user-keyed left join of two
    1-row-per-user frames. All thresholds are literals, so partition
    pruning on a date-partitioned layout makes the feature scan touch
    only pre-cutoff files."""
    events = table(spark, sf_dir, "events")
    cutoff = "2024-01-21 00:00:00"
    feat = get_task("pit_features", cutoff=cutoff).apply(events)
    label_end = F.lit("2024-01-28 00:00:00").cast("timestamp")
    lab = (
        events.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.lit(cutoff).cast("timestamp"))
            & (F.col("ts") < label_end)
        )
        .select("user_id")
        .distinct()
        .withColumn("purchased", F.lit(True))
    )
    return (
        feat.join(lab, "user_id", "left")
        .select(
            *feat.columns,
            F.coalesce("purchased", F.lit(False)).alias("label_purchase"),
        )
        .orderBy("user_id")
    )


@query(
    "q93_purchase_attribution",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts AS e_ts, event_id AS e_id, event_type AS e_type
      FROM events WHERE event_type != 'purchase'
    ),
    j AS (
      SELECT p.p_id, t.e_ts, t.e_id, t.e_type
      FROM p LEFT JOIN t
        ON t.user_id = p.user_id
       AND t.e_ts < p.p_ts
       AND t.e_ts >= p.p_ts - INTERVAL 7 DAY
    ),
    per AS (
      SELECT p_id,
             min({'ts': e_ts, 'id': e_id, 't': e_type}) AS f,
             max({'ts': e_ts, 'id': e_id, 't': e_type}) AS l
      FROM j GROUP BY p_id
    ),
    fc AS (
      SELECT coalesce(struct_extract(f, 't'), 'direct') AS touch_type,
             count(*) AS n_first_touch
      FROM per GROUP BY 1
    ),
    lc AS (
      SELECT coalesce(struct_extract(l, 't'), 'direct') AS touch_type,
             count(*) AS n_last_touch
      FROM per GROUP BY 1
    )
    SELECT coalesce(fc.touch_type, lc.touch_type) AS touch_type,
           coalesce(fc.n_first_touch, 0) AS n_first_touch,
           coalesce(lc.n_last_touch, 0) AS n_last_touch
    FROM fc FULL JOIN lc ON fc.touch_type = lc.touch_type
    ORDER BY touch_type
    """,
)
def q93_purchase_attribution(spark, sf_dir):
    """First-/last-touch purchase attribution — the marketing-analytics
    staple the funnel family (q80/q90) doesn't cover: for every
    purchase, which event type was the user's FIRST and which the LAST
    non-purchase touch in the preceding 7 days; purchases with no touch
    in the window attribute to 'direct'. Deterministic inside ties via
    min/max over struct(ts, event_id, type) — lexicographic struct
    comparison is identical in Spark and DuckDB, and a no-touch
    purchase aggregates a single all-NULL-field struct, so NULL-field
    ordering never compares across engines.

    100 TB shape: ONE user-keyed equi-join with the window bounds as
    join filters (no window function over the corpus); per-purchase
    groups are bounded by a user's 7-day activity; the attribution
    rollup is a ≤ |event_types|+1-key aggregate joined full-outer on
    the bounded type frame."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_id"),
        F.col("event_type").alias("e_type"),
    )
    j = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("e_ts") < F.col("p_ts"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    touch = F.struct(
        F.col("e_ts").alias("ts"),
        F.col("e_id").alias("id"),
        F.col("e_type").alias("t"),
    )
    per = j.groupBy("p_id").agg(
        F.min(touch).alias("f"), F.max(touch).alias("l")
    )
    fc = per.groupBy(
        F.coalesce(F.col("f.t"), F.lit("direct")).alias("touch_type")
    ).agg(F.count(F.lit(1)).alias("n_first_touch"))
    lc = per.groupBy(
        F.coalesce(F.col("l.t"), F.lit("direct")).alias("touch_type")
    ).agg(F.count(F.lit(1)).alias("n_last_touch"))
    return (
        fc.join(lc, "touch_type", "full")
        .select(
            "touch_type",
            F.coalesce("n_first_touch", F.lit(0)).alias("n_first_touch"),
            F.coalesce("n_last_touch", F.lit(0)).alias("n_last_touch"),
        )
        .orderBy("touch_type")
    )


@query(
    "q94_ewma_level",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY ts DESC, event_id DESC
             ) - 1 AS j
      FROM events
    ),
    trail AS (SELECT * FROM ranked WHERE j <= 47),
    agg AS (
      SELECT event_type,
             count(*) AS n_used,
             sum(CAST(round(value / CAST(1::BIGINT << (j + 1) AS DOUBLE),
                            12) AS DECIMAL(27,18))) AS _s,
             max(CASE WHEN j = 0 THEN value END) AS last_value
      FROM trail GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_used AS BIGINT) AS n_used,
           round(CAST(_s AS DOUBLE), 9) AS ewma,
           round(last_value, 9) AS last_value
    FROM agg ORDER BY event_type
    """,
)
def q94_ewma_level(spark, sf_dir):
    """Per-type EWMA level of the event-value stream — the smoothing
    stage every monitoring pipeline puts in front of its alarm (q86's
    control chart reads daily aggregates; THIS is the event-grain
    exponentially-weighted level): α = 0.5 over the trailing 48 events
    ordered by (ts, event_id) DESC. EXACT cross-engine by construction:
    the weights are dyadic (value / 2^(j+1) — one IEEE division by an
    exact power of two, no pow() library call anywhere), terms round-12
    into decimal(27,18) sums (the x125 discipline), and the truncation
    at 48 is part of the definition (0.5^48 ≈ 3.6e-15 — below the
    round-12 grain, so the truncated sum IS the EWMA at published
    precision).

    100 TB shape: the rank window is per-type and the trailing filter
    caps it at 48 rows per type before the ≤|types| aggregation — on a
    stream this is the x30/x67 frozen-window form (foreachBatch over
    the per-type trailing buffer)."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    trail = events.withColumn(
        "_j", F.row_number().over(w) - 1
    ).filter(F.col("_j") <= 47)
    term = F.round(
        F.col("value")
        / F.expr("CAST(shiftleft(1L, _j + 1) AS DOUBLE)"),
        12,
    ).cast("decimal(27,18)")
    agg = trail.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(term).alias("_s"),
        F.max(F.when(F.col("_j") == 0, F.col("value"))).alias("_last"),
    )
    return agg.select(
        "event_type",
        F.col("n_used").cast("bigint").alias("n_used"),
        F.round(F.col("_s").cast("double"), 9).alias("ewma"),
        F.round("_last", 9).alias("last_value"),
    ).orderBy("event_type")
