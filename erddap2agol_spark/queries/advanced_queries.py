"""Second-wave queries: ordered-analytics patterns (sessionization, as-of),
grouping sets, and deeper dedup/text coverage — all oracle-checked.

Every ``events.ts`` reference in oracles goes through
``CAST(ts AS TIMESTAMP)`` (ns -> us truncation) so both engines compute
on identical values — including inside window frames, where a raw-ns gap
comparison could split sessions differently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetimes import epoch_us
from ..functions.dsl import numeric_prefix_cast
from ..operators import dedup
from ..operators.text import quality_score
from ..plans.lifecycle import pinned, truncate_lineage
from ..sources.tables import load_table
from . import register

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


@register(
    "sessionization",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Sessionization: 30-min-gap sessions via lag + running sum — the "
    "standard window recipe; one shuffle on the user key.",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (us - F.lag(us).over(w) > SESSION_GAP_US) | F.lag(us).over(w).isNull(), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "asof_last_purchase",
    oracle="""
    SELECT event_id, ts, user_id, last_purchase_ts FROM (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS UNBOUNDED PRECEDING) AS last_purchase_ts
      FROM events
    ) WHERE event_type = 'error'
    """,
    doc="As-of join expressed as a running conditional max — for each "
    "error event, the most recent prior purchase by the same user. The "
    "union-window form of as-of avoids any range-join blowup.",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn(
            "last_purchase_ts",
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w),
        )
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts", "user_id", "last_purchase_ts")
    )


@register(
    "cube_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (all four rollup combinations in one pass).",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_SIMHASH_CTE = """
    toks AS (
      SELECT doc_id AS doc, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ),
    th AS (
      SELECT doc,
             (instr('0123456789abcdef', h[1]) - 1) * 4096 + (instr('0123456789abcdef', h[2]) - 1) * 256 +
             (instr('0123456789abcdef', h[3]) - 1) * 16   + (instr('0123456789abcdef', h[4]) - 1) AS th
      FROM (SELECT doc, md5(tok) AS h FROM toks)
    ),
    votes AS (
      SELECT doc, pos, sum(CASE WHEN (th >> pos) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS pos)
      GROUP BY doc, pos
    ),
    sh AS (
      SELECT doc, sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << pos) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc
    )
"""


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE}
    SELECT a.doc AS doc_a, b.doc AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc < b.doc
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
    doc="SimHash near-dup detection: pairs within Hamming distance 2 of "
    "the 16-bit fingerprint (bit_count(xor)) — the cheap second stage "
    "after fingerprinting.",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # cache lifecycle (pagerank pattern): the fingerprint table is read
    # three times (strategy count + both join sides), so pin it only
    # while the pair result materializes — the returned result is an
    # eager checkpoint the caller owns (release_checkpoints)
    with pinned(dedup.simhash16(docs, "doc_id", "text")) as sh:
        return truncate_lineage(dedup.simhash_near_pairs(sh, max_hamming=2))


_SHINGLES_CTE = """
    sh AS (
      SELECT doc_id AS doc,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents)
    )
"""


@register(
    "minhash_signatures",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    h AS (SELECT doc, md5('a:' || sh) AS h0, md5('b:' || sh) AS h1 FROM sh)
    SELECT doc,
           min(substr(h0, 1, 8))  AS m0, min(substr(h0, 9, 8))  AS m1,
           min(substr(h0, 17, 8)) AS m2, min(substr(h0, 25, 8)) AS m3,
           min(substr(h1, 1, 8))  AS m4, min(substr(h1, 9, 8))  AS m5,
           min(substr(h1, 17, 8)) AS m6, min(substr(h1, 25, 8)) AS m7
    FROM h GROUP BY doc
    """,
    doc="The MinHash signature table itself (8 perms, chunked-md5) — one "
    "wide hash-aggregate row per document.",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("doc", "doc")


@register(
    "token_histogram",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM documents
    ),
    counts AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok)
    SELECT tok, n, rk FROM (
      SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM counts
    ) WHERE rk <= 20
    """,
    doc="Corpus token histogram, top-20 — explode + count + rank, the "
    "vocabulary profile pass of a curation pipeline.",
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-k + driver merge) — a global rank window here would drag the
    # entire distinct-token table onto one partition.  rk is recomputed
    # AFTER the limit, where the window input is 20 rows.
    top = counts.orderBy(F.desc("n"), F.col("tok")).limit(20)
    w = Window.orderBy(F.desc("n"), F.col("tok"))
    return top.withColumn("rk", F.row_number().over(w))


@register(
    "numeric_prefix_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(regexp_extract(CAST(l_quantity AS VARCHAR) || 'kg', '^[0-9+\\-.]+', 0)
                AS DOUBLE) AS parsed_qty
    FROM lineitem
    """,
    doc="F9: numeric-prefix extraction + cast ('12.5kg' -> 12.5), the "
    "converter's lenient numeric parser.",
)
def numeric_prefix_cast_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    tagged = F.concat(F.col("l_quantity").cast("string"), F.lit("kg"))
    return li.select(
        "l_orderkey", "l_linenumber", numeric_prefix_cast(tagged).alias("parsed_qty")
    )


@register(
    "corpus_curation",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
             round(CAST(
               (CASE WHEN len(regexp_split_to_array(lower(text), '\\s+'))
                          BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       w -> list_contains(['the','a','of','and','to','in','is','it','for','on'], w)))
                       AS DOUBLE)
                     / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1) >= 0.05
                THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN list_sum(list_transform(regexp_split_to_array(lower(text), '\\s+'),
                       w -> length(w)))
                     / greatest(len(regexp_split_to_array(lower(text), '\\s+')), 1)
                       BETWEEN 2.5 AND 10 THEN 0.3 ELSE 0.0 END)
             AS DOUBLE), 2) AS quality
      FROM documents
    )
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies, min(quality) AS quality
    FROM scored WHERE quality >= 0.7
    GROUP BY md5(text)
    """,
    doc="Composed curation pipeline: quality gate -> exact dedup with "
    "deterministic keeper — filter before shuffle, hash-only shuffle key.",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text", quality_score(F.col("text")).alias("quality")
    ).filter(F.col("quality") >= 0.7)
    return (
        scored.select(F.md5("text").alias("content_hash"), "doc_id", "quality")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("quality").alias("quality"),
        )
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    """,
    doc="TPC-H Q3 shape: the one genuinely fact-to-fact join (lineitem x "
    "orders shuffles on the order key; customer side broadcasts).",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "orders_min_lines",
    oracle="""
    SELECT l_orderkey, count(*) AS n_lines,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING count(*) >= 6
    """,
    doc="Grouped HAVING filter (post-aggregation predicate).",
)
def orders_min_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.col("n_lines") >= 6)
    )


@register(
    "running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING), 2) AS cum_revenue
    FROM orders
    """,
    doc="Cumulative frame window: per-customer running revenue (rows "
    "unbounded preceding — the frame spec the reference never had).",
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_revenue"),
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_props
    FROM events GROUP BY event_type
    """,
    doc="Exact distinct aggregation (two distinct columns in one pass).",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.get_json_object("props", "$.k").cast("bigint")
        ).alias("n_props"),
    )


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles (both engines use linear "
    "interpolation; approx_percentile is the scale path when exactness "
    "can yield).",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
    )


@register(
    "session_window_agg",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Spark-native session_window (gap-merged event-time sessions; a "
    "new session opens when the gap >= 30 min, window end = last event "
    "+ gap) — the built-in form of the sessionization recipe.",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "time_steps",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey,
             unnest([o_orderdate + i * INTERVAL 1 MONTH
                     for i in generate_series(0, 2)]) AS step_ts
      FROM orders WHERE o_orderkey < 100
    )
    SELECT o_orderkey, step_ts FROM seq
    """,
    doc="F4: interval time stepping (the reference's iterateTime) — "
    "sequence(start, end, interval) exploded to one row per step. "
    "NOTE: Spark sequence() is multiplicative from the start "
    "(Aug31 + 2M = Oct31); DuckDB generate_series clamps cumulatively "
    "(Aug31 -> Sep30 -> Oct30), so the oracle uses start + i*interval.",
)
def time_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    steps = F.sequence(
        F.col("o_orderdate"),
        F.col("o_orderdate") + F.expr("INTERVAL 2 MONTHS"),
        F.expr("INTERVAL 1 MONTH"),
    )
    return o.select("o_orderkey", F.explode(steps).alias("step_ts"))


@register(
    "value_decile_bands",
    oracle="""
    WITH bs AS (
      SELECT event_type,
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
      FROM events GROUP BY event_type
    ),
    bands AS (
      SELECT event_type, i AS band,
             CASE WHEN i = 0 THEN CAST('-infinity' AS DOUBLE) ELSE q[i] END AS lo,
             CASE WHEN i = 9 THEN NULL ELSE q[i + 1] END AS hi
      FROM bs CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i)
    )
    SELECT e.event_type, b.band, count(*) AS n_events
    FROM events e JOIN bands b ON e.event_type = b.event_type
      AND e.value >= b.lo AND (b.hi IS NULL OR e.value < b.hi)
    GROUP BY 1, 2
    """,
    doc="Data-driven histogram: per-type decile boundaries (one tiny "
    "percentile aggregate) become a broadcast interval dim, and every "
    "event lands in its band through a keyed interval join — the range "
    "check is a join residual on a hash equi-join, never a nested-loop "
    "cross product. Half-open bands; quantile_cont/percentile "
    "interpolation matches across engines.",
)
def value_decile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import interval_join

    events = load_table(spark, sf_dir, "events")
    qs = [i / 10 for i in range(1, 10)]
    bs = events.groupBy("event_type").agg(
        F.percentile("value", F.array(*[F.lit(q) for q in qs])).alias("q")
    )
    structs = []
    for i in range(10):
        lo = F.lit(float("-inf")) if i == 0 else F.col("q")[i - 1]
        hi = F.lit(None).cast("double") if i == 9 else F.col("q")[i]
        structs.append(
            F.struct(F.lit(i).alias("band"), lo.alias("lo"), hi.alias("hi"))
        )
    bands = bs.select("event_type", F.explode(F.array(*structs)).alias("b")).select(
        "event_type", "b.band", "b.lo", "b.hi"
    )
    return (
        interval_join(
            events.select("event_id", "event_type", "value"),
            bands,
            "value",
            "lo",
            "hi",
            on=["event_type"],
            broadcast_intervals=True,
        )
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "funnel_stages",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts) AS view_ts FROM e
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS click_ts
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.view_ts
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS purchase_ts
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.view_ts, s2.click_ts, s3.purchase_ts,
           1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
             + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS stage_reached
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    doc="Ordered funnel (view -> click -> purchase): each stage is the "
    "earliest qualifying event strictly after the previous stage. Every "
    "join and aggregate keys on user_id, so one hash partitioning is "
    "reused across all stages — no broadcast needed, no global state.",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t = F.col("event_type")
    s1 = ev.filter(t == "view").groupBy("user_id").agg(F.min("ts").alias("view_ts"))
    s2 = (
        ev.filter(t == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    s3 = (
        ev.filter(t == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.when(F.col("click_ts").isNull(), 0).otherwise(1)
                + F.when(F.col("purchase_ts").isNull(), 0).otherwise(1)
            ).cast("int").alias("stage_reached"),
        )
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
    ),
    cohort AS (
      SELECT user_id, min(d) AS cohort_date FROM e GROUP BY user_id
    )
    SELECT c.cohort_date, CAST(e.d - c.cohort_date AS INTEGER) AS day_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM e JOIN cohort c ON e.user_id = c.user_id
    GROUP BY c.cohort_date, day_offset
    """,
    doc="Retention cohorts: users grouped by first-activity date, counted "
    "per day-offset of later activity. first-activity agg and the "
    "enrichment join both key on user_id; the final distinct-count keys "
    "on (cohort, offset) — bounded by days^2 groups.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff("d", "cohort_date").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "skewed_agg_salted",
    oracle="""
    SELECT event_type, round(sum(value), 6) AS value_sum,
           count(value) AS value_count,
           round(min(value), 6) AS value_min, round(max(value), 6) AS value_max
    FROM events GROUP BY event_type
    """,
    doc="Two-stage SALTED aggregation (the hot-key mitigation from "
    "operators/skew.py) graded against the plain one-stage oracle: "
    "stage 1 shuffles on (key, salt) spreading a hot key over 16 "
    "reducers, stage 2 combines the tiny partials — algebraic "
    "aggregates compose, so results are identical by construction.",
)
def skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={"value": ("sum", "count", "min", "max")},
        unique_col="event_id",
        n_salts=16,
    )
    # sum is rounded at the END only: partials must combine un-rounded
    return out.select(
        "event_type",
        F.round("value_sum", 6).alias("value_sum"),
        "value_count",
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
    )


@register(
    "snapshot_diff_events",
    oracle="""
    WITH old_s AS (
      SELECT event_id, event_type, value FROM events WHERE event_id % 11 <> 3
    ),
    new_s AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END AS value
      FROM events WHERE event_id % 13 <> 5
    ),
    j AS (
      SELECT COALESCE(o.event_id, n.event_id) AS event_id,
             o.event_id IS NOT NULL AS in_old, n.event_id IS NOT NULL AS in_new,
             o.event_type AS ot, n.event_type AS nt, o.value AS ov, n.value AS nv
      FROM old_s o FULL OUTER JOIN new_s n ON o.event_id = n.event_id
    ),
    classified AS (
      SELECT event_id,
             CASE WHEN NOT in_old THEN 'added'
                  WHEN NOT in_new THEN 'removed'
                  WHEN ot IS DISTINCT FROM nt OR ov IS DISTINCT FROM nv
                       THEN 'changed'
                  ELSE 'unchanged' END AS status,
             concat_ws(',',
               CASE WHEN in_old AND in_new AND ot IS DISTINCT FROM nt
                    THEN 'event_type' END,
               CASE WHEN in_old AND in_new AND ov IS DISTINCT FROM nv
                    THEN 'value' END) AS changed_cols
      FROM j
    )
    SELECT event_id, status, changed_cols FROM classified
    WHERE status <> 'unchanged'
    """,
    doc="CDC-style snapshot diff: two deterministic slices of events "
    "stand in for consecutive snapshot versions; every key is classified "
    "added/removed/changed via ONE full-outer hash join plus codegen'd "
    "null-safe comparisons (operators/diff.py). The status filter "
    "composes into the join -- nothing is collected.",
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import snapshot_diff

    ev = load_table(spark, sf_dir, "events")
    old_s = ev.filter(F.col("event_id") % 11 != 3).select(
        "event_id", "event_type", "value"
    )
    new_s = ev.filter(F.col("event_id") % 13 != 5).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.col("value") + 1)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    d = snapshot_diff(old_s, new_s, ["event_id"], ["event_type", "value"])
    return d.filter(F.col("status") != "unchanged")


@register(
    "key_hotness",
    oracle="""
    WITH tot AS (SELECT count(*) AS total FROM events),
    t1 AS (
      SELECT 'event_type' AS key_col, CAST(event_type AS VARCHAR) AS key_value,
             count(*) AS n
      FROM events GROUP BY 2 ORDER BY n DESC, key_value LIMIT 10
    ),
    t2 AS (
      SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS key_value,
             count(*) AS n
      FROM events GROUP BY 2 ORDER BY n DESC, key_value LIMIT 10
    ),
    u AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
    SELECT key_col, key_value, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           CAST(row_number() OVER (PARTITION BY key_col
                                   ORDER BY n DESC, key_value) AS BIGINT) AS rk
    FROM u CROSS JOIN tot
    """,
    doc="Heavy-hitter key profile (skew diagnostic): top-10 values of "
    "event_type and user_id with corpus share -- per column one keyed "
    "count with map-side combine, then orderBy+limit which Catalyst "
    "compiles to TakeOrderedAndProject (per-partition top-k, no global "
    "sort); the grand total broadcasts as one row.",
)
def key_hotness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import key_profile

    ev = load_table(spark, sf_dir, "events")
    out = key_profile(ev, ["event_type", "user_id"], k=10)
    return out.select(
        "key_col", "key_value", "n", "share", F.col("rk").cast("bigint").alias("rk")
    )


@register(
    "rolling_7d_avg",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us, value
      FROM events
    )
    SELECT user_id, event_id,
           round(avg(value) OVER (
                 PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW), 6)
             AS avg_7d,
           count(*) OVER (
                 PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
             AS n_7d
    FROM e
    """,
    doc="RANGE-frame window: per-user trailing-7-day moving average — "
    "the frame is defined by TIME DISTANCE (epoch-microsecond range "
    "bounds), not row count, so uneven event spacing is handled "
    "exactly. One window partitioned on user_id: a single keyed "
    "shuffle, per-partition sorted scan, no self-join (the naive "
    "formulation is an O(n * window) range self-join).",
)
def rolling_7d_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    week_us = 7 * 24 * 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("t_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-week_us, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("avg_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@register(
    "grouping_sets_revenue",
    oracle="""
    SELECT n_name, o_orderpriority,
           GROUPING(n_name) + 2 * GROUPING(o_orderpriority) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), (n_name, o_orderpriority))
    """,
    doc="GROUPING SETS with grouping_id disambiguation: three "
    "aggregation granularities in ONE pass over the joined fact (Spark "
    "expands the sets map-side, so the fact is scanned and shuffled "
    "once, not once per set); nation broadcasts; gid tells a NULL "
    "group value from a NULL rollup level.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, o_orderpriority,
               GROUPING(n_name) + 2 * GROUPING(o_orderpriority) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority),
                                (n_name, o_orderpriority))
        """
    )


@register(
    "range_partition_bounds",
    oracle="""
    WITH q AS (
      SELECT quantile_cont(o_totalprice,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
      FROM orders
    )
    SELECT i AS idx, round(qs[i], 6) AS bound
    FROM q, (SELECT unnest(generate_series(1, 7)) AS i)
    """,
    doc="Equi-depth range-partition boundaries: the 7 interpolated "
    "octile cuts of the write key, computed in ONE aggregate pass — "
    "exactly what repartitionByRange needs to split a skewed key into "
    "balanced files (Spark's own RangePartitioner samples; this is the "
    "deterministic planned version a 100 TB writer pins so file "
    "boundaries are stable across reruns).",
)
def range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    probs = [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]
    qs = load_table(spark, sf_dir, "orders").agg(
        F.percentile("o_totalprice", F.lit(probs)).alias("qs")
    )
    return qs.select(F.posexplode("qs").alias("idx0", "b")).select(
        (F.col("idx0") + 1).cast("bigint").alias("idx"),
        F.round("b", 6).alias("bound"),
    )


@register(
    "asof_next_purchase",
    oracle="""
    SELECT event_id, ts, user_id, next_purchase_ts,
           round(CAST(epoch_us(next_purchase_ts) - epoch_us(ts) AS DOUBLE)
                 / 1000000.0, 6) AS secs_to_purchase
    FROM (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_ts
      FROM events
    ) WHERE event_type = 'click'
    """,
    doc="FORWARD as-of join (conversion attribution): for each click, "
    "the user's first STRICTLY LATER purchase and the time to convert. "
    "Same union-window trick as the backward form, mirrored: a running "
    "conditional min over the following frame — one keyed window, no "
    "range self-join, no state. The strict 1-FOLLOWING lower bound "
    "keeps a same-instant purchase from attributing to itself.",
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            "ts",
            "user_id",
            "next_purchase_ts",
            F.round(
                (epoch_us("next_purchase_ts") - epoch_us("ts")).cast("double")
                / 1e6,
                6,
            ).alias("secs_to_purchase"),
        )
    )


@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT l_orderkey, l_partkey, 'extendedprice' AS measure,
           round(l_extendedprice, 2) AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_partkey, 'discount', round(l_discount, 2)
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_partkey, 'tax', round(l_tax, 2) FROM lineitem
    """,
    doc="UNPIVOT (wide -> long melt) of the lineitem money measures — "
    "the relational surface the reference's griddap melt generalizes "
    "(operators/grid.py melts dimension grids the same way). Spark's "
    "native unpivot is a zero-shuffle map that multiplies rows by the "
    "measure count; no UNION re-scan of the fact (ONE scan feeds all "
    "three measures, vs the oracle's triple scan).",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round("l_extendedprice", 2).alias("extendedprice"),
        F.round("l_discount", 2).alias("discount"),
        F.round("l_tax", 2).alias("tax"),
    )
    return li.unpivot(
        ["l_orderkey", "l_partkey"],
        ["extendedprice", "discount", "tax"],
        "measure",
        "val",
    )


@register(
    "intersect_converting_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    doc="INTERSECT set op (completes the U-family next to EXCEPT and "
    "UNION): users who both clicked and purchased. Compiles to a "
    "left-semi hash join over the two deduplicated sides — ids only "
    "ever shuffle, and the aggregation is partial map-side.",
)
def intersect_converting_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@register(
    "q17_correlated_sql",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
    WHERE p_brand = 'Brand#23'
      AND l1.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey)
    """,
    doc="TPC-H Q17 written WITH the correlated scalar subquery (the "
    "form a user actually types) — Catalyst decorrelates it into the "
    "same per-part aggregate + equi-join that q17_small_quantity_"
    "revenue hand-builds, proving the optimizer owns the rewrite; the "
    "plan test asserts no per-row subquery survives.",
)
def q17_correlated_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey
        WHERE p_brand = 'Brand#23'
          AND l1.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey)
        """
    )


@register(
    "value_rank_distribution",
    oracle="""
    SELECT event_id, event_type,
           round(percent_rank() OVER w, 6) AS pr,
           round(cume_dist() OVER w, 6) AS cd
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    doc="Analytic rank distributions per group: percent_rank and "
    "cume_dist over (event_type, value) — the normalized-rank pair "
    "that quantile-calibrates a metric within its segment. One keyed "
    "window (partition count = |event types|); the event_id tie-break "
    "pins both engines to identical orderings; both ratios divide "
    "exact integer ranks so 6dp rounding is bit-stable.",
)
def value_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4)
             AS p_transition
    FROM pairs
    ORDER BY prev_type, event_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next event type | current). One lag window per user "
    "(hash-partitioned by user_id — millions of small partitions, never "
    "one big one), a pair-count aggregate, and a per-prev-type share "
    "window over the TINY pair matrix (|types|^2 rows). Event-id "
    "tie-break pins intra-timestamp order cross-engine.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    share = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(share), 4).alias("p_transition"),
    ).orderBy("prev_type", "event_type")


@register(
    "scd2_user_tiers",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN value < 20 THEN 'low'
                  WHEN value < 60 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN tier IS DISTINCT FROM
                          lag(tier) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                     THEN 1 ELSE 0 END AS changed
      FROM e
    ),
    seg AS (
      SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, seg_id, tier, min(ts) AS valid_from,
             count(*) AS n_events
      FROM seg GROUP BY user_id, seg_id, tier
    )
    SELECT user_id, CAST(seg_id AS BIGINT) AS version, tier, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, seg_id) AS valid_to,
           CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                     ORDER BY valid_from, seg_id) IS NULL
                THEN TRUE ELSE FALSE END AS is_current,
           n_events
    FROM intervals
    ORDER BY user_id, version
    """,
    doc="SCD Type-2 dimension build from an event stream: per-user tier "
    "(bucketed value) tracked as validity intervals — change detection "
    "via lag, segment ids via running sum (the sessionization pattern "
    "repurposed), one aggregate per segment, valid_to/is_current via "
    "lead over the TINY interval table. All windows hash-partition on "
    "user_id; the warehouse dimension-maintenance op, derived entirely "
    "in one pass over events.",
)
def scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    tier = (
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.withColumn("tier", tier)
        .withColumn(
            "changed",
            F.when(
                ~F.col("tier").eqNullSafe(F.lag("tier").over(w)), 1
            ).otherwise(0),
        )
        .withColumn(
            "seg_id",
            F.sum("changed").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    intervals = seg.groupBy("user_id", "seg_id", "tier").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    iw = Window.partitionBy("user_id").orderBy("valid_from", "seg_id")
    return (
        intervals.select(
            "user_id",
            F.col("seg_id").cast("long").alias("version"),
            "tier",
            "valid_from",
            F.lead("valid_from").over(iw).alias("valid_to"),
            F.lead("valid_from").over(iw).isNull().alias("is_current"),
            "n_events",
        )
        .orderBy("user_id", "version")
    )


@register(
    "scd2_point_in_time",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             CASE WHEN value < 20 THEN 'low'
                  WHEN value < 60 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN tier IS DISTINCT FROM
                          lag(tier) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                     THEN 1 ELSE 0 END AS changed
      FROM e WHERE event_type <> 'purchase'
    ),
    seg AS (
      SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM flagged
    ),
    intervals AS (
      SELECT user_id, seg_id, tier, min(ts) AS valid_from
      FROM seg GROUP BY user_id, seg_id, tier
    ),
    dim AS (
      SELECT user_id, seg_id, tier, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, seg_id) AS valid_to
      FROM intervals
    ),
    f AS (
      SELECT user_id, event_id, ts FROM e WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.ts, d.tier
    FROM f LEFT JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    ORDER BY f.event_id
    """,
    doc="Point-in-time lookup against an SCD Type-2 dimension — the "
    "warehouse temporal-join pattern: each purchase is attributed the "
    "tier that was valid AT its timestamp (dimension built from the "
    "non-purchase events; purchases before any dimension row get "
    "NULL). The oracle is the textbook validity-range theta join "
    "(valid_from <= t < valid_to); Spark's plan must NOT contain it — "
    "dimension change rows and fact rows are co-partitioned on the "
    "entity key and UNIONED, and one running last-non-null window pass "
    "resolves every fact's as-of match. Cost: one user-keyed shuffle, "
    "independent of interval count; the range-join form explodes with "
    "interval x fact density at 100 TB. Reference analog: the date-"
    "cache lookup the NRT loop does per dataset "
    "(src/erddap_wrangler.py update_dataset date gate), generalized to "
    "versioned attributes.",
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    tier = (
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim_events = ev.filter(F.col("event_type") != "purchase").withColumn(
        "tier", tier
    )
    seg = dim_events.withColumn(
        "changed",
        F.when(~F.col("tier").eqNullSafe(F.lag("tier").over(w)), 1).otherwise(0),
    ).withColumn(
        "seg_id",
        F.sum("changed").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    dim = seg.groupBy("user_id", "seg_id", "tier").agg(
        F.min("ts").alias("ts")
    )
    # as-of merge: dim change rows sort BEFORE facts at the same
    # timestamp (ord 0 < 1), so a change effective at t applies to a
    # purchase at t — matching the oracle's valid_from <= t bound.
    # Zero-length versions (two changes at one timestamp) resolve to
    # the later seg_id, exactly the interval the theta join keeps.
    dim_rows = dim.select(
        "user_id",
        "ts",
        F.lit(0).alias("ord"),
        F.col("seg_id").cast("long").alias("seq"),
        "tier",
        F.lit(None).cast("long").alias("event_id"),
    )
    fact_rows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("ord"),
        F.col("event_id").cast("long").alias("seq"),
        F.lit(None).cast("string").alias("tier"),
        "event_id",
    )
    mw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "ord", "seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dim_rows.unionByName(fact_rows)
        .withColumn("tier_at", F.last("tier", ignorenulls=True).over(mw))
        .filter(F.col("ord") == 1)
        .select("event_id", "user_id", "ts", F.col("tier_at").alias("tier"))
        .orderBy("event_id")
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           min(value) AS vmin, max(value) AS vmax
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Incremental aggregate maintenance, proven by the oracle: Spark "
    "computes per-user (count, sum, min, max) as TWO partial aggregates "
    "— a 'base' batch (before Jan 20) and a 'delta' batch (after) — "
    "and MERGES them (counts add, sums add, min/max fold), while the "
    "oracle recomputes from scratch over all events; the hash match IS "
    "the proof that the merge law holds, i.e. the aggregate state can "
    "be maintained under append-only ingestion without reprocessing "
    "history. Values sum as exact decimals so base+delta order cannot "
    "drift from the recompute.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    from ..functions.datetimes import epoch_us
    cut_us = 1_705_708_800_000_000  # 2024-01-20 00:00:00 UTC
    base = ev.filter(epoch_us("ts") < cut_us)
    delta = ev.filter(epoch_us("ts") >= cut_us)

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    b = partial(base).select(
        "user_id",
        F.col("n").alias("bn"), F.col("s").alias("bs"),
        F.col("mn").alias("bmn"), F.col("mx").alias("bmx"),
    )
    d = partial(delta).select(
        "user_id",
        F.col("n").alias("dn"), F.col("s").alias("ds"),
        F.col("mn").alias("dmn"), F.col("mx").alias("dmx"),
    )
    return (
        b.join(d, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_events"
            ),
            (
                F.coalesce(F.col("bs"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("ds"), F.lit(0).cast("decimal(18,6)"))
            )
            .cast("double")
            .alias("total"),
            F.least(
                F.coalesce("bmn", F.col("dmn")), F.coalesce("dmn", F.col("bmn"))
            ).alias("vmin"),
            F.greatest(
                F.coalesce("bmx", F.col("dmx")), F.coalesce("dmx", F.col("bmx"))
            ).alias("vmax"),
        )
        .orderBy("user_id")
    )


@register(
    "merge_upsert_users",
    oracle="""
    WITH b AS (
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        AND user_id % 3 <> 0
      GROUP BY user_id
    ),
    c AS (
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
             count(CASE WHEN event_type = 'error' THEN 1 END)
               > count(CASE WHEN event_type = 'purchase' THEN 1 END) AS deleted
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-20 00:00:00'
        AND user_id % 5 <> 1
      GROUP BY user_id
    ),
    j AS (
      SELECT COALESCE(b.user_id, c.user_id) AS user_id,
             CASE WHEN c.user_id IS NULL THEN 'keep'
                  WHEN COALESCE(c.deleted, FALSE) AND b.user_id IS NOT NULL
                       THEN 'delete'
                  WHEN b.user_id IS NULL AND NOT COALESCE(c.deleted, FALSE)
                       THEN 'insert'
                  WHEN b.user_id IS NOT NULL AND NOT COALESCE(c.deleted, FALSE)
                       THEN 'update'
                  ELSE 'noop_delete' END AS _merge_action,
             CASE WHEN c.user_id IS NOT NULL THEN c.n_events
                  ELSE b.n_events END AS n_events,
             CASE WHEN c.user_id IS NOT NULL THEN c.total
                  ELSE b.total END AS total
      FROM b FULL OUTER JOIN c ON b.user_id = c.user_id
    )
    SELECT user_id, n_events, total, _merge_action
    FROM j WHERE _merge_action NOT IN ('delete', 'noop_delete')
    ORDER BY user_id
    """,
    doc="MERGE INTO semantics over snapshots (the warehouse upsert the "
    "reference's all-or-nothing overwrite lacks): a keyed change set "
    "updates matched users, inserts new ones, deletes users whose "
    "late-window errors outnumber purchases, keeps the rest — ONE "
    "full-outer hash join on the key, action classification in pure "
    "column algebra, audit column emitted so counts are checkable "
    "before the atomic pointer swap publishes the result. Exercises "
    "all four actions via disjoint user slices.",
)
def merge_upsert_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.datetimes import epoch_us
    from ..operators.diff import merge_upsert

    cut_us = 1_705_708_800_000_000  # 2024-01-20 00:00:00 UTC
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_type"
    )

    def stats(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total"),
        )

    base = stats(
        ev.filter((epoch_us("ts") < cut_us) & (F.col("user_id") % 3 != 0))
    )
    after = ev.filter((epoch_us("ts") >= cut_us) & (F.col("user_id") % 5 != 1))
    changes = after.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        (
            F.count(F.when(F.col("event_type") == "error", 1))
            > F.count(F.when(F.col("event_type") == "purchase", 1))
        ).alias("deleted"),
    )
    return merge_upsert(base, changes, "user_id", delete_col="deleted").orderBy(
        "user_id"
    )


@register(
    "source_venn",
    oracle="""
    WITH flags AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM events GROUP BY user_id
    )
    SELECT has_click, has_view, has_purchase, count(*) AS n_users
    FROM flags GROUP BY 1, 2, 3
    """,
    doc="Multi-source Venn reconciliation: which users appear in which "
    "combination of event streams — the first report run when "
    "reconciling N ingest feeds (who is missing where). One pass: a "
    "per-user flag aggregate then a 2^N-row combination count, both "
    "map-side combining; no joins at all, so it cannot skew.",
)
def source_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"has_{t}")
            for t in ("click", "view", "purchase")
        ]
    )
    return flags.groupBy("has_click", "has_view", "has_purchase").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "expectations_report",
    oracle="""
    WITH checks AS (
      SELECT
        count(*) AS n_checked,
        count(*) FILTER (WHERE l_orderkey IS NULL) AS v_key_null,
        count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS v_qty_range,
        count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS v_disc_range,
        count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS v_flag_domain,
        count(*) FILTER (WHERE l_extendedprice <= 0) AS v_price_nonpositive
      FROM lineitem
    )
    SELECT 'key_null' AS check_name, v_key_null AS n_violations, n_checked FROM checks
    UNION ALL SELECT 'qty_range', v_qty_range, n_checked FROM checks
    UNION ALL SELECT 'disc_range', v_disc_range, n_checked FROM checks
    UNION ALL SELECT 'flag_domain', v_flag_domain, n_checked FROM checks
    UNION ALL SELECT 'price_nonpositive', v_price_nonpositive, n_checked FROM checks
    """,
    doc="Data-quality expectation suite in ONE scan: every constraint "
    "(null keys, value ranges, domain membership, sign "
    "checks) is a conditional count in a single aggregate — the whole "
    "battery costs one pass with map-side combine regardless of how "
    "many expectations are registered; the wide one-row result "
    "unpivots to a (check, violations) report via stack, no second "
    "scan.",
)
def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = F.count(F.lit(1))

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    wide = li.agg(
        c.alias("n_checked"),
        viol(F.col("l_orderkey").isNull()).alias("key_null"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("qty_range"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias("disc_range"),
        viol(~F.col("l_returnflag").isin("A", "N", "R")).alias("flag_domain"),
        viol(F.col("l_extendedprice") <= 0).alias("price_nonpositive"),
    )
    names = [
        "key_null", "qty_range", "disc_range",
        "flag_domain", "price_nonpositive",
    ]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) AS (check_name, n_violations)",
        "n_checked",
    )


@register(
    "incremental_join_merge",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Incremental JOIN maintenance, proven by the oracle: the view "
    "orders x customer is maintained under simultaneous appends to "
    "BOTH sides with the delta rule "
    "d(A x B) = dA x B + A x dB + dA x dB -- Spark computes the old "
    "view plus the three delta joins (never re-joining base against "
    "base), the oracle recomputes the whole join from scratch, and "
    "the hash match proves the rule. Each delta join has a delta-"
    "sized side, so maintenance cost tracks the INCREMENT, not the "
    "accumulated history -- the property that makes materialized "
    "views affordable under streaming ingestion.",
)
def incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # append simulation: ~1/4 of each side is "new"
    oa, od = o.filter(F.col("o_orderkey") % 4 != 0), o.filter(
        F.col("o_orderkey") % 4 == 0
    )
    ca, cd = c.filter(F.col("c_custkey") % 4 != 0), c.filter(
        F.col("c_custkey") % 4 == 0
    )

    def j(lhs, rhs):
        return lhs.join(rhs, lhs.o_custkey == rhs.c_custkey).select(
            "o_orderkey", "o_custkey", "c_name", "o_totalprice"
        )

    old_view = j(oa, ca)
    delta = j(od, ca).unionAll(j(oa, cd)).unionAll(j(od, cd))
    return old_view.unionAll(delta)


@register(
    "k_anonymity_report",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS group_size
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT group_size >= 5 AS is_anonymous,
           count(*) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_rows,
           min(group_size) AS min_group,
           max(group_size) AS max_group
    FROM qi GROUP BY 1
    """,
    doc="k-anonymity audit over the (nation, market-segment) "
    "quasi-identifier: group sizes in one hash aggregate, then the "
    "k=5 compliance split -- how many equivalence classes (and rows) "
    "sit below the re-identification threshold. The whole privacy "
    "report is two map-side-combining aggregates; at 100 TB the "
    "second runs on |QI-combinations| rows.",
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return qi.groupBy((F.col("group_size") >= 5).alias("is_anonymous")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").alias("n_rows"),
        F.min("group_size").alias("min_group"),
        F.max("group_size").alias("max_group"),
    )


@register(
    "null_semantics_matrix",
    oracle="""
    WITH probe AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS maybe_cust
      FROM orders
    )
    SELECT
      count(*) AS n_rows,
      count(maybe_cust) AS n_nonnull,
      count(*) FILTER (WHERE maybe_cust = 1) AS eq_matches,
      count(*) FILTER (WHERE maybe_cust IS NOT DISTINCT FROM NULL) AS nullsafe_null,
      count(*) FILTER (WHERE maybe_cust IN (1, 2, 3)) AS in_matches,
      count(*) FILTER (WHERE maybe_cust NOT IN (1, 2, 3)) AS notin_matches,
      count(*) FILTER (WHERE NOT (maybe_cust = maybe_cust)) AS neq_self,
      count(*) FILTER (WHERE coalesce(maybe_cust = 1, false) OR maybe_cust IS NULL)
        AS coalesced
    FROM probe
    """,
    doc="Three-valued-logic conformance matrix: the classic NULL traps "
    "(= never matches NULL, NOT IN collapses on NULLs, x = x is "
    "UNKNOWN for NULL, null-safe IS NOT DISTINCT FROM) counted in one "
    "scan on both engines -- a hash mismatch here means the engines "
    "disagree on SQL's core semantics, so this row doubles as a "
    "conformance canary for every other filter in the registry.",
)
def null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    probe = o.select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("maybe_cust")
    )
    mc = F.col("maybe_cust")

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    return probe.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(mc).alias("n_nonnull"),
        n(mc == 1).alias("eq_matches"),
        n(mc.eqNullSafe(F.lit(None))).alias("nullsafe_null"),
        n(mc.isin(1, 2, 3)).alias("in_matches"),
        n(~mc.isin(1, 2, 3)).alias("notin_matches"),
        n(~(mc == mc)).alias("neq_self"),
        n(F.coalesce(mc == 1, F.lit(False)) | mc.isNull()).alias("coalesced"),
    )


@register(
    "weighted_median_by_type",
    oracle="""
    WITH w AS (
      SELECT event_type, value AS v,
             CAST(1 + user_id % 3 AS DOUBLE) AS wt
      FROM events WHERE value IS NOT NULL
    ),
    cum AS (
      SELECT event_type, v, wt,
             sum(wt) OVER (PARTITION BY event_type ORDER BY v, wt
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY event_type) AS tw
      FROM w
    )
    SELECT event_type, min(v) AS wmedian
    FROM cum WHERE cw >= tw / 2.0
    GROUP BY event_type
    """,
    doc="Grades the Pandas-UDAF path itself: Spark computes the "
    "per-type weighted median with the grouped-agg Arrow UDF "
    "(functions/udtf.weighted_median), the oracle with the cumulative-"
    "weight window formulation. Lower interpolation picks an EXACT "
    "element of the input, so the result is bit-identical across the "
    "two completely different execution paths -- Python-worker Arrow "
    "batches vs SQL windows.",
)
def weighted_median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtf import weighted_median

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return (
        ev.select(
            "event_type",
            F.col("value").alias("v"),
            (1 + F.col("user_id") % 3).cast("double").alias("wt"),
        )
        .groupBy("event_type")
        .agg(weighted_median("v", "wt").alias("wmedian"))
    )


@register(
    "null_aware_anti_join",
    oracle="""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
      UNION ALL SELECT NULL
    ),
    not_in_form AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
    ),
    anti_form AS (
      SELECT count(*) AS n FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = o.o_custkey)
    )
    SELECT (SELECT n FROM not_in_form) AS notin_count,
           (SELECT n FROM anti_form) AS anti_count
    """,
    doc="The null-aware anti-join trap, graded: with a NULL in the "
    "subquery, SQL's NOT IN returns UNKNOWN for every probe row (so "
    "the count is 0), while NOT EXISTS -- the anti-join DataFrame "
    "users reach for -- still filters normally. Spark compiles the "
    "NOT IN form to its null-aware anti join (single-column "
    "broadcast, the 3.1+ fast path); emitting both counts side by "
    "side pins the semantic difference across engines.",
)
def null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH dim AS (
          SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
          UNION ALL SELECT CAST(NULL AS BIGINT)
        ),
        not_in_form AS (
          SELECT count(*) AS n FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
        ),
        anti_form AS (
          SELECT count(*) AS n FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = o.o_custkey)
        )
        SELECT (SELECT n FROM not_in_form) AS notin_count,
               (SELECT n FROM anti_form) AS anti_count
        """
    )


@register(
    "referential_integrity_report",
    oracle="""
    SELECT 'orders.custkey' AS fk_edge,
           (SELECT count(*) FROM orders) AS n_rows,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.orderkey',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem.partkey',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    """,
    doc="Referential-integrity audit across the star schema's three "
    "FK edges in one report: orphan counts via LEFT ANTI joins whose "
    "build sides are the (broadcastable) key columns only -- at "
    "100 TB each edge costs one keys-only broadcast probe over the "
    "fact, never a fact shuffle. The ingest-pipeline smoke test that "
    "catches partial loads and dangling deletes.",
)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def edge(name, fact, key, dim, dim_key):
        orphans = fact.select(key).join(
            F.broadcast(dim.select(dim_key)),
            fact[key] == dim[dim_key],
            "left_anti",
        )
        return (
            fact.agg(F.count(F.lit(1)).alias("n_rows"))
            .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_orphans")
        )

    return (
        edge("orders.custkey", o, "o_custkey", c, "c_custkey")
        .unionAll(edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey"))
        .unionAll(edge("lineitem.partkey", li, "l_partkey", p, "p_partkey"))
    )


@register(
    "benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT count(*) AS total FROM d)
    SELECT digit, count(*) AS n_obs,
           round(count(*) / CAST(total AS DOUBLE), 4) AS share,
           round(log10(1.0 + 1.0 / digit), 4) AS benford_share,
           round(count(*) / CAST(total AS DOUBLE)
                 - log10(1.0 + 1.0 / digit), 4) AS deviation
    FROM d CROSS JOIN n
    GROUP BY digit, total
    """,
    doc="Benford first-digit forensics over order totals: observed "
    "leading-digit shares next to log10(1 + 1/d) and the deviation -- "
    "the fraud/synthetic-data screen auditors run on financial "
    "columns. One narrow map (leading digit of the integer part) and "
    "one 9-row aggregate; the only floats are two final rounded "
    "divisions and a log10 of a constant.",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    n = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit", "total")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("total"), 4).alias("share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 4).alias("benford_share"),
            F.round(
                F.col("n_obs") / F.col("total")
                - F.log10(1.0 + 1.0 / F.col("digit")),
                4,
            ).alias("deviation"),
        )
    )


@register(
    "props_variant_stats",
    oracle="""
    SELECT event_type,
           count(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS k_sum,
           round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INT)), 4)
             AS k_avg
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Semi-structured payloads through Spark 4's VARIANT type: "
    "parse_json once into the binary variant encoding, then typed "
    "variant_get extraction feeding a plain aggregate. Against "
    "string-path extraction (json_extract / F11) this is the at-scale "
    "form — the document is parsed ONCE into a navigable binary value "
    "instead of re-tokenizing the JSON text per path, and extraction "
    "stays inside codegen. The oracle is DuckDB's JSON string "
    "extraction over the same column, proving the typed results agree "
    "engine-to-engine. try-variants throughout per the robustness "
    "contract: malformed JSON or a non-integer k degrades that row to "
    "NULL (count skips it), never aborts the job.",
)
def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").cast("long").alias("k_sum"),
            F.round(F.avg("k"), 4).alias("k_avg"),
        )
        .orderBy("event_type")
    )


_RULE_MIN_BOTH = 3


@register(
    "basket_association_rules",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
    item AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_both
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_RULE_MIN_BOTH}
    )
    SELECT part_a, part_b, n_both, x.n_item AS n_a, y.n_item AS n_b,
           round(CAST(n_both AS DOUBLE) / n, 6) AS support,
           round(CAST(n_both AS DOUBLE) / x.n_item, 6) AS confidence_ab,
           round(CAST(n_both AS DOUBLE) * n / (x.n_item * y.n_item), 6) AS lift
    FROM pair
    JOIN item x ON x.l_partkey = part_a
    JOIN item y ON y.l_partkey = part_b
    CROSS JOIN n_orders
    ORDER BY part_a, part_b
    """,
    doc="Market-basket association rules over order baskets: "
    "support / confidence / lift for every part pair co-purchased in "
    ">= 3 orders. The pair generator is a self-equi-join ON THE ORDER "
    "KEY — fan-out bounded by basket size squared (TPC-H baskets are "
    "<= 7 lines), linear in order count, never an all-pairs item join; "
    "item counts attach afterwards (by then the pair table is tiny) and "
    "the basket total rides along as a broadcast scalar. Ratios round "
    "to 6dp from exact integer counts, so the hash is engine-stable.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select(
        F.count_distinct("l_orderkey").alias("n")
    )
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= _RULE_MIN_BOTH)
    )
    x = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    y = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pair.join(x, "part_a")
        .join(y, "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(F.col("n_both") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("confidence_ab"),
            F.round(
                F.col("n_both") * F.col("n") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy("part_a", "part_b")
    )


@register(
    "measure_correlations",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
           round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS covar_qty_price
    FROM lineitem
    """,
    doc="Pairwise Pearson correlations across the fact measures — the "
    "one-pass profiling readout (co-moment accumulators, map-side "
    "combinable, one row out regardless of input size).",
)
def measure_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qty_disc"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias(
            "covar_qty_price"
        ),
    )


@register(
    "revenue_share_of_parent",
    oracle="""
    WITH nat AS (
      SELECT r_name AS region, n_name AS nation,
             round(sum(o_totalprice), 2) AS nation_rev
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name
    )
    SELECT region, nation, nation_rev,
           round(sum(nation_rev) OVER (PARTITION BY region), 2) AS region_rev,
           round(nation_rev / sum(nation_rev) OVER (PARTITION BY region), 6)
             AS share_of_region
    FROM nat
    """,
    doc="Percent-of-parent along the geo hierarchy: nation revenue as a "
    "share of its region. The heavy work is ONE fact aggregate (dims "
    "broadcast); the window runs over the 25-row nation aggregate — "
    "partitioned by region, never over raw facts. Shares divide "
    "already-rounded sums so the ratio is engine-exact.",
)
def revenue_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nat = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("nation_rev"))
    )
    w = Window.partitionBy("region")
    region_rev = F.round(F.sum("nation_rev").over(w), 2)
    return nat.select(
        "region",
        "nation",
        "nation_rev",
        region_rev.alias("region_rev"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6).alias(
            "share_of_region"
        ),
    )


@register(
    "asof_cogrouped",
    oracle="""
    SELECT event_id, ts, user_id, last_purchase_ts FROM (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
             max(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS UNBOUNDED PRECEDING) AS last_purchase_ts
      FROM events
    ) WHERE event_type = 'error'
    """,
    doc="The as-of join AGAIN, through cogroup().applyInPandas — same "
    "semantics and same oracle as asof_last_purchase's union-window "
    "form, so the per-key pandas pairing template (the hook for DTW / "
    "optimal-matching style algorithms SQL can't express) is "
    "hash-verified against the declarative answer. Both inputs "
    "co-shuffle once on user_id; per-key work is one linear cummax.",
)
def asof_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_backward_cogrouped

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    return asof_backward_cogrouped(
        errors, purchases, "user_id", "ts", "event_id", "last_purchase_ts"
    )
