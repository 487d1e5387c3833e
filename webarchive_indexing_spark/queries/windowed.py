"""Window-function queries (SURVEY.md §2.5 W1-W6, §2.3 J7, §2.9
ST2/ST3 batch equivalents) over the events table."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.asof import asof_join
from ..operators.collapse import collapse
from ..operators.sessionize import sessionize
from ..registry import query
from .helpers import dsum, hround, sql_dsum, sql_hround, t


@query(
    "win_row_number",
    oracle="""
    SELECT event_id, user_id, event_type FROM (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def win_row_number(spark, sf_dir):
    """W1 row_number: latest event per user (cdx 'latest capture per
    url' shape [B]) — one shuffle on the partition key."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type")
    )


@query(
    "win_rank_dense",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk, drnk FROM (
      SELECT o_custkey, o_orderkey,
             RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS drnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def win_rank_dense(spark, sf_dir):
    """W1 rank/dense_rank: top-3 orders per customer."""
    o = t(spark, sf_dir, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w1).alias("rnk"),
            F.dense_rank().over(w2).alias("drnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "win_collapse_runs",
    oracle="""
    SELECT user_id, COUNT(*) AS n_kept FROM (
      SELECT user_id,
             strftime(ts, '%Y%m%d') AS day_key,
             LAG(strftime(ts, '%Y%m%d')) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_key
      FROM events
    ) WHERE prev_key IS NULL OR day_key <> prev_key
    GROUP BY user_id
    """,
)
def win_collapse_runs(spark, sf_dir):
    """W2 cdx-server ``collapse`` [B]: run-based keep-first on a key
    prefix (here collapseTime=8 ≙ day granularity per user).  The same
    key reappearing after a gap starts a new run — group-based dedup
    would undercount; operators.collapse implements run semantics."""
    ev = t(spark, sf_dir, "events").withColumn(
        "day_key", F.date_format("ts", "yyyyMMdd")
    )
    kept = collapse(
        ev,
        partition_by=["user_id"],
        order_by=["`ts` ASC", "`event_id` ASC"],
        collapse_key="`day_key`",
    )
    return kept.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    """W3 lag/lead: inter-event gap + next event type per user
    (revisit-chain / sessionization primitive)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_moving_agg",
    oracle=f"""
    SELECT event_id,
           {sql_hround("SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
                       "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 2)} AS moving_sum,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_in_frame
    FROM events
    """,
)
def win_moving_agg(spark, sf_dir):
    """W4 frame aggregate: 3-row moving sum per user.

    The frame sums ≤3 doubles in one deterministic left-to-right pass
    in both engines, so hround suffices (no decimal detour needed)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        hround(F.sum("value").over(w), 2).alias("moving_sum"),
        F.count(F.lit(1)).over(w).alias("n_in_frame"),
    )


@query(
    "win_ntile_pctrank",
    oracle="""
    SELECT c_custkey,
           NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct
    FROM customer
    """,
)
def win_ntile_pctrank(spark, sf_dir):
    """W5 ntile/percent_rank — shard-balance diagnostics shape.
    percent_rank = (rank-1)/(n-1): one IEEE division, engine-stable.
    A bare ``Window.orderBy`` would funnel the table through ONE task;
    instead both come from the two-pass global rank
    (operators.global_rank), which stays parallel at any scale."""
    from ..operators.global_rank import (
        exact_ntile_expr,
        global_row_number_and_total,
    )

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked, total = global_row_number_and_total(
        c, ["c_acctbal", "c_custkey"], rank_col="__rank"
    )
    return ranked.select(
        "c_custkey",
        exact_ntile_expr("__rank", total, 4).alias("quartile"),
        ((F.col("__rank") - 1) / F.lit(total - 1)).alias("pct"),
    )


@query(
    "win_global_block_index",
    oracle="""
    SELECT block_id,
           MIN(o_orderkey) AS first_key,
           COUNT(*) AS n_rows
    FROM (
      SELECT o_orderkey,
             CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) / 100) AS BIGINT) AS block_id
      FROM orders
    ) GROUP BY block_id
    """,
)
def win_global_block_index(spark, sf_dir):
    """W6 global block index: the SQL-expressible half of the ZipNum
    secondary index [U zipnumclusterjob.py reducer] — every
    ``numlines``-th row in total order opens a block; byte offsets are
    added by the partition-local writer (sinks.zipnum)."""
    from ..operators.global_rank import global_row_number

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    ranked = global_row_number(o, ["o_orderkey"], rank_col="__rank")
    return (
        ranked.select(
            "o_orderkey",
            F.expr("(__rank - 1) div 100").cast("bigint").alias("block_id"),
        )
        .groupBy("block_id")
        .agg(F.min("o_orderkey").alias("first_key"), F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "asof_join_nearest",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS view_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def asof_join_nearest(spark, sf_dir):
    """J7 as-of join: latest prior 'view' for each 'purchase' of the
    same user (cdx ``sort=closest`` per-URL resolution [B]).  Union
    trick: one shuffle, no fan-out explosion (operators.asof)."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_event_id")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        probe_ts="ts",
        build_ts="view_ts",
        payload=["view_event_id"],
    )
    return joined.select("event_id", "user_id", "view_event_id")


@query(
    "asof_join_forward",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS next_view_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts >= p.ts
    """,
)
def asof_join_forward(spark, sf_dir):
    """J7 as-of join, FORWARD direction (round 5): the first 'view'
    AT-OR-AFTER each 'purchase' of the same user — post-event
    attribution (did the buyer come back?).  Same union-trick plan as
    the backward as-of over the reversed time axis: one shuffle, no
    per-key fan-out, cost independent of build-row multiplicity;
    DuckDB oracles it natively with ``ASOF JOIN ... >=``."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("next_view_event_id")
    )
    joined = asof_join(
        purchases,
        views,
        on="user_id",
        probe_ts="ts",
        build_ts="view_ts",
        payload=["next_view_event_id"],
        direction="forward",
    )
    return joined.select("event_id", "user_id", "next_view_event_id")


@query(
    "sessionize_gaps",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           {sql_dsum('value', 'session_value')}
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_gaps(spark, sf_dir):
    """ST3 batch sessionization: 30-min inactivity gap → session ids,
    then per-session rollup (operators.sessionize; streaming twin is
    F.session_window)."""
    ev = t(spark, sf_dir, "events")
    sess = sessionize(
        ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak=("event_id",)
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value", "session_value")
    )


@query(
    "tumbling_window_daily",
    oracle=f"""
    SELECT date_trunc('day', ts)::DATE AS day,
           event_type,
           COUNT(*) AS n,
           {sql_dsum('value', 'total_value')}
    FROM events GROUP BY day, event_type
    """,
)
def tumbling_window_daily(spark, sf_dir):
    """ST2 batch-equivalent tumbling window via F.window(ts, '1 day')
    — identical semantics to the streaming windowed agg; oracle frames
    it as date_trunc."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH days AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day
      FROM events
    ), first AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(FLOOR((d.day - f.cohort_day) / 7) AS BIGINT) AS week_offset,
           COUNT(DISTINCT d.user_id) AS n_users
    FROM days d JOIN first f ON d.user_id = f.user_id
    GROUP BY cohort_day, week_offset
    """,
)
def events_retention_cohorts(spark, sf_dir):
    """Cohort retention — the canonical activity-analytics rollup:
    users grouped by first-seen day, activity counted per week offset.

    Both the first-seen aggregate and the join back are keyed on
    user_id, so the second shuffle reuses the first's partitioning
    (ReuseExchange) and the cohort rollup is the only new exchange.
    Day ids are integer µs arithmetic — no calendar/locale semantics
    to drift between engines."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint").alias("day"),
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.floor((F.col("day") - F.col("cohort_day")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "events_funnel_stages",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), v AS (
      SELECT user_id, MIN(us) AS t FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.us) AS t
      FROM ev e JOIN v ON e.user_id = v.user_id
       AND e.us > v.t AND e.us <= v.t + 86400000000
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.us) AS t
      FROM ev e JOIN c ON e.user_id = c.user_id
       AND e.us > c.t AND e.us <= c.t + 86400000000
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
                WHEN c.user_id IS NOT NULL THEN 'click'
                WHEN v.user_id IS NOT NULL THEN 'view'
                ELSE 'none' END AS stage,
           COUNT(*) AS n_users
    FROM (SELECT DISTINCT user_id FROM ev) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    GROUP BY stage
    """,
)
def events_funnel_stages(spark, sf_dir):
    """Ordered funnel conversion (view → click → purchase, each step
    within 24 h of the previous): a user advances a stage only with a
    LATER event of the next type inside the step window — the
    sequential pattern plain per-type counts get wrong (a purchase
    before any view must not count).

    Every aggregate and join in the chain is keyed on user_id, so one
    hash partitioning serves all stages; timestamps chain as integer
    microseconds (engine-identical).  At 100 TB this beats the
    window/collect-per-user formulation: no per-user event array ever
    materializes."""
    STEP = 86_400_000_000  # 24 h in µs
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )

    def first_after(prev, etype):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("us").alias("t"))
        return (
            e.join(prev.select("user_id", F.col("t").alias("pt")), "user_id")
            .filter((F.col("us") > F.col("pt")) & (F.col("us") <= F.col("pt") + STEP))
            .groupBy("user_id")
            .agg(F.min("us").alias("t"))
        )

    v = first_after(None, "view")
    c = first_after(v, "click")
    p = first_after(c, "purchase")
    u = ev.select("user_id").distinct()
    stage = (
        F.when(F.col("p.user_id").isNotNull(), "purchase")
        .when(F.col("c.user_id").isNotNull(), "click")
        .when(F.col("v.user_id").isNotNull(), "view")
        .otherwise("none")
    )
    return (
        u.join(v.alias("v"), "user_id", "left")
        .join(c.alias("c"), "user_id", "left")
        .join(p.alias("p"), "user_id", "left")
        .groupBy(stage.alias("stage"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_view_click_attrib",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ), c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT v.user_id, epoch_us(c.c_ts) - epoch_us(v.v_ts) AS d_us
      FROM v JOIN c
        ON v.user_id = c.user_id
       AND c.c_ts >= v.v_ts
       AND c.c_ts <= v.v_ts + INTERVAL 1 HOUR
    )
    SELECT user_id, COUNT(*) AS n_pairs,
           MIN(d_us) AS min_lag_us, MAX(d_us) AS max_lag_us
    FROM p GROUP BY user_id
    """,
)
def events_view_click_attrib(spark, sf_dir):
    """ST6 batch twin of the stream-stream interval join
    (``streaming.incremental.stream_stream_join``): clicks attributed
    to same-user views within the previous hour, rolled up per user.
    The join is equi on user_id with an event-time interval residual —
    Catalyst plans one shuffle on the key and evaluates the range
    bound as a post-join filter inside codegen; in the streaming form
    the identical condition is what bounds the join state."""
    ev = t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    pairs = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 3600 SECONDS")),
    )
    lag_us = F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))
    return (
        pairs.select(F.col("v_user").alias("user_id"), lag_us.alias("d_us"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("d_us").alias("min_lag_us"),
            F.max("d_us").alias("max_lag_us"),
        )
    )


#: funnel completion window: every later step must land within this
#: of the user's FIRST step-1 event (microseconds; 7 days).
_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000


@query(
    "events_funnel_steps",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), s1 AS (
      SELECT user_id, MIN(us) AS t1 FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.us) AS t2, MIN(s1.t1) AS t1
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.us >= s1.t1
        AND e.us <= s1.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.us) AS t3
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.us >= s2.t2
        AND e.us <= s2.t1 + {_FUNNEL_WINDOW_US}
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
                AS INT) AS funnel_depth,
           CAST(s3.t3 - s1.t1 AS BIGINT) AS conv_us
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)
def events_funnel_steps(spark, sf_dir):
    """W+ conversion funnel (view → click → purchase, ordered, every
    step within 7 days of the user's first view) — the classic
    product-analytics sequence operator, as CASCADED MIN-joins: step
    k's earliest qualifying time conditions step k+1's search range.
    Per user: funnel_depth ∈ {{1,2,3}} and the end-to-end conversion
    time for completers.

    Scale shape: three per-user aggregates + two equi-joins, all
    hashed on user_id — one partitioning reused across every stage
    (AQE coalesces the tiny sides), no window over the whole event
    stream, no per-user sort.  The greedy earliest-step semantics is
    the standard funnel definition: it also makes each stage a plain
    MIN, which is what keeps this associative and shuffle-light at
    100 TB of events."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("us") >= F.col("t1"))
            & (F.col("us") <= F.col("t1") + _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("us") >= F.col("t2"))
            & (F.col("us") <= F.col("t1") + _FUNNEL_WINDOW_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    out = (
        s1.join(s2.select("user_id", "t2"), "user_id", "left")
        .join(s3, "user_id", "left")
    )
    depth = (
        F.lit(1)
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    )
    return out.select(
        "user_id",
        depth.cast("int").alias("funnel_depth"),
        (F.col("t3") - F.col("t1")).cast("bigint").alias("conv_us"),
    )


@query(
    "events_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type,
             ANY_VALUE(m.med) AS med,
             quantile_cont(ABS(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_hround('ANY_VALUE(m.med)', 4)} AS med,
           {sql_hround('ANY_VALUE(m.mad)', 4)} AS mad,
           CAST(SUM(CASE WHEN ABS(e.value - m.med) > 3.5 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def events_anomaly_mad(spark, sf_dir):
    """Robust anomaly counting per event type: median + MAD (median
    absolute deviation), then the modified-z-score rule
    |x − med| > 3.5·1.4826·MAD — the outlier detector that survives
    the heavy tails that break mean/stddev z-scores (crawl latency
    spikes, bot bursts).

    Two grouped exact-percentile passes (each a per-group sort-based
    aggregate; at 100 TB both swap to the mergeable
    ``approx_percentile`` sketch with identical plan shape) and a
    broadcast of the per-type (med, mad) rows back onto the scan for
    the verdict — the events stream shuffles only for the two grouped
    aggregates."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"),
    )
    scored = ev.join(F.broadcast(mad), "event_type")
    is_out = F.abs(F.col("value") - F.col("med")) > 3.5 * 1.4826 * F.col("mad")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        hround(F.first("med"), 4).alias("med"),
        hround(F.first("mad"), 4).alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_30d,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2)
                AS DOUBLE) AS sum_30d
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day_num
      FROM orders
    )
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark, sf_dir):
    """W4 value-based frame (``rangeBetween``): per customer, the
    trailing-30-day order count and spend at every order — a RANGE
    frame over the day number, which unlike a ROWS frame grows and
    shrinks with the data's actual event-time density (ties land in
    the same frame).  One window pass keyed on the customer."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.unix_timestamp("o_orderdate") / F.lit(86400)).cast("bigint").alias(
            "day_num"
        ),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("n_30d"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("sum_30d"),
    )


@query(
    "events_zorder_box",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE user_id BETWEEN 2 AND 5 AND value BETWEEN 150 AND 400
    """,
    tier="C",
)
def events_zorder_box(spark, sf_dir):
    """Z-ORDER clustered layout (round 12 — the Delta/Iceberg
    OPTIMIZE ZORDER technique, the data-layout lever a 100 TB events
    table needs for multi-dimensional slicing): the table is
    rewritten clustered on the Morton interleave of (user_id, value),
    then a BOX query filters BOTH dimensions through the plain
    parquet reader — every file's footer now bounds both columns, so
    stats-based skipping prunes most files where a single-column sort
    layout prunes only its leading column (the pruning ratio and the
    one-dim-sorted counterexample are pinned in
    tests/test_bucketing.py; both predicates reach PushedFilters,
    plan-asserted).  The oracle is the same box over the original
    table — a layout rewrite must never change an answer."""
    import tempfile

    from ..operators.bucketing import write_zordered

    ev = t(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="zorder_ev_")
    write_zordered(ev, out, ["user_id", "value"], n_files=16)
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("user_id") >= 2) & (F.col("user_id") <= 5)
            & (F.col("value") >= 150) & (F.col("value") <= 400)
        )
        .select("event_id", "user_id", "value")
    )


@query(
    "events_zorder_quantile_box",
    oracle="""
    SELECT event_id, user_id, value FROM events
    WHERE user_id BETWEEN 2 AND 5 AND value BETWEEN 40 AND 55
    """,
    tier="C",
)
def events_zorder_quantile_box(spark, sf_dir):
    """EQUI-DEPTH z-order (round 12 — the skewed-dimension fix, what
    Delta's OPTIMIZE actually computes): the events value column is
    bottom-heavy, so linear Morton bucketing compresses the dense
    region into few buckets and a narrow dense-region box still
    touches most files; quantile bucketing (approxQuantile
    boundaries, bucket = boundaries-passed via a JVM-side fold)
    spends buckets where the rows are, so the same box prunes (the
    footer-measured linear-vs-quantile skip comparison is pinned in
    tests/test_bucketing.py).  The oracle is the plain box over the
    original table: bucketing strategy, like the layout itself, must
    never change an answer."""
    import tempfile

    from ..operators.bucketing import write_zordered

    ev = t(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="zorder_q_ev_")
    write_zordered(
        ev, out, ["user_id", "value"], n_files=16, bucketing="quantile"
    )
    return (
        spark.read.parquet(out)
        .filter(
            (F.col("user_id") >= 2) & (F.col("user_id") <= 5)
            & (F.col("value") >= 40) & (F.col("value") <= 55)
        )
        .select("event_id", "user_id", "value")
    )
