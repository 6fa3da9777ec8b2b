"""Event-log analytics: ordered funnels, cohort retention, SCD Type-2
interval builds, hourly gap-fill with forward fill, multi-resolution time
rollups, and z-score anomaly flags.

The product-analytics and observability passes a clickstream warehouse runs
daily, over the same ``events`` table the streaming operators consume. All
are single-exchange-per-stage designs: per-user computations share one
user_id exchange; per-type series work shares the hourly rollup exchange.

Portability notes: week indices are ``floor(epoch_seconds / 604800)`` — plain
integer arithmetic, identical in both engines — rather than ``date_trunc``,
whose week-start conventions are an engine-semantics trap. Funnel steps
compare raw timestamps (microsecond-identical across engines; see
sources/readers.load_table's nanos handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import barrier
from ._util import t

WEEK_SECONDS = 7 * 86400


@query(
    "q_events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'view') AS fv
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id,
               MIN(e.ts) FILTER (WHERE e.event_type = 'click' AND e.ts > s1.fv
                                 AND e.ts <= s1.fv + INTERVAL 24 HOUR) AS fc
        FROM events e JOIN s1 USING (user_id)
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id,
               MIN(e.ts) FILTER (WHERE e.event_type = 'purchase' AND e.ts > s2.fc
                                 AND e.ts <= s2.fc + INTERVAL 24 HOUR) AS fp
        FROM events e JOIN s2 USING (user_id)
        GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(s1.fv) AS n_view,
           COUNT(s2.fc) AS n_view_click,
           COUNT(s3.fp) AS n_full_funnel
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    category="aggregation",
    description=(
        "Ordered conversion funnel (view -> click -> purchase): each user's "
        "first view, first click within 24h after it, first purchase within "
        "24h after that, rolled up to per-step user counts. Spark side is three "
        "window passes over ONE user_id exchange (each step's min reuses the "
        "same partitioning — no extra shuffle, no self-joins); the oracle's "
        "stepwise join chain is the semantic twin."
    ),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    fv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    e = e.withColumn("fv", fv)
    day = F.expr("INTERVAL 24 HOURS")
    fc = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("fv"))
            & (F.col("ts") <= F.col("fv") + day),
            F.col("ts"),
        )
    ).over(w)
    e = e.withColumn("fc", fc)
    fp = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("fc"))
            & (F.col("ts") <= F.col("fc") + day),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        e.withColumn("fp", fp)
        .groupBy("user_id")
        .agg(F.min("fv").alias("fv"), F.min("fc").alias("fc"), F.min("fp").alias("fp"))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_view_click"),
        F.count("fp").alias("n_full_funnel"),
    )


@query(
    "q_events_retention",
    oracle=f"""
    WITH wk AS (
        -- user_id IS NOT NULL on both sides (round 7): retention of an
        -- unidentified user is meaningless, and the engines disagreed on the
        -- garbage — Spark's window partitioning groups NULL users into a
        -- real partition while this join's USING(user_id) drops them
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts) / {WEEK_SECONDS}) AS BIGINT) AS widx
        FROM events WHERE user_id IS NOT NULL
    ),
    cohort AS (
        SELECT user_id, MIN(widx) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT c.cohort_week,
           w.widx - c.cohort_week AS week_offset,
           COUNT(*) AS n_users
    FROM wk w JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
    category="aggregation",
    description=(
        "Cohort retention: users bucketed by first-active week, counted in "
        "every (cohort, week-offset) cell they were active in — the "
        "triangular retention matrix. Week index is integer epoch "
        "arithmetic (engine-portable, no date_trunc week-start trap); the "
        "per-user cohort is a window min over the same user_id exchange the "
        "distinct-week dedup uses."
    ),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    widx = F.floor(F.unix_timestamp("ts") / WEEK_SECONDS).cast("bigint")
    wk = e.select("user_id", widx.alias("widx")).dropDuplicates(["user_id", "widx"])
    cohort = F.min("widx").over(W.partitionBy("user_id"))
    return (
        wk.withColumn("cohort_week", cohort)
        .groupBy("cohort_week", (F.col("widx") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_events_rollup_multires",
    oracle="""
    WITH base AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hour_bucket,
               -- CAST: DuckDB's date_trunc('day') yields DATE, Spark's a
               -- TIMESTAMP — align the type for the hash gate
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
               CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week_idx,
               value
        FROM events
    )
    SELECT event_type,
           CASE WHEN hour_bucket IS NOT NULL THEN 'hour'
                WHEN day_bucket IS NOT NULL THEN 'day'
                ELSE 'week' END AS grain,
           hour_bucket, day_bucket, week_idx,
           COUNT(*) AS n_events,
           CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
    FROM base
    GROUP BY GROUPING SETS ((event_type, hour_bucket),
                            (event_type, day_bucket),
                            (event_type, week_idx))
    """,
    category="aggregation",
    description=(
        "Multi-resolution time rollup (the hypertable continuous-aggregate "
        "shape): hour, day, and week grains computed in ONE grouping-sets "
        "pass over the fact — one scan, one shuffle, partial aggregation "
        "per set — instead of three separate jobs. Week is epoch integer "
        "arithmetic (no date_trunc week-start trap); grain is derived from "
        "which bucket column survived the set, portable across engines."
    ),
)
def q_events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum_sql

    # {events} templating instead of a temp view — no session-global name
    return spark.sql(
        f"""
        WITH base AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS hour_bucket,
                   date_trunc('day', ts) AS day_bucket,
                   CAST(FLOOR(unix_timestamp(ts) / 604800) AS BIGINT) AS week_idx,
                   value
            FROM {{events}}
        )
        SELECT event_type,
               CASE WHEN hour_bucket IS NOT NULL THEN 'hour'
                    WHEN day_bucket IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               hour_bucket, day_bucket, week_idx,
               COUNT(*) AS n_events,
               {dsum_sql('value')} AS sum_value
        FROM base
        GROUP BY GROUPING SETS ((event_type, hour_bucket),
                                (event_type, day_bucket),
                                (event_type, week_idx))
        """,
        events=t(spark, sf_dir, "events"),
    )


@query(
    "q_events_scd2",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        -- ts IS NOT NULL (round 7): a state change at unknown time is
        -- meaningless, and NULL ordering inside the window DIFFERS between
        -- engines (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST) —
        -- a user with both null-ts and real events would get different
        -- change sequences. event_type IS NOT NULL (round 8, ADVICE r7): a
        -- NULL state is not a state — SQL's `<>` change test evaluates NULL
        -- for it (not a change) while the streaming twin's Python `!=` saw
        -- a change, so the two builds diverged on NULL-state rows; exclude
        -- them identically everywhere (same rationale as the ts exclusion)
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM changes
    """,
    category="window",
    description=(
        "SCD Type-2 interval build from an event stream: collapse "
        "consecutive duplicate states per user (lag change-detection), then "
        "each surviving row opens a validity interval closed by the next "
        "change's timestamp (lead; NULL = current). The standard "
        "dimension-history pattern; both window passes and the implicit "
        "dedup ride ONE user_id exchange. Tie-break on (ts, event_id) makes "
        "the change sequence deterministic."
    ),
)
def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "events")
        # NULL state excluded like NULL time (round 8): see oracle comment
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    # valid_to closure tie-breaks on (ts, event_id) exactly like the change
    # detection above — equal-ts state changes would otherwise close
    # intervals nondeterministically (and diverge from the streaming twin).
    w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
    )


@query(
    "q_events_gapfill",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(*) AS n_events,
               CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
        FROM events GROUP BY 1, 2
    ),
    spine AS (
        SELECT event_type,
               UNNEST(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY event_type
    ),
    joined AS (
        SELECT s.event_type, s.h,
               hy.n_events AS obs_n, hy.sum_value AS obs_sum
        FROM spine s LEFT JOIN hourly hy
          ON s.event_type = hy.event_type AND s.h = hy.h
    )
    SELECT event_type, h AS hour,
           COALESCE(obs_n, 0) AS n_events,
           CAST(CASE WHEN obs_n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap,
           (MAX(CASE WHEN obs_sum IS NOT NULL THEN {'h': h, 's': obs_sum} END)
                OVER (PARTITION BY event_type ORDER BY h
                      ROWS UNBOUNDED PRECEDING)).s AS filled_sum
    FROM joined
    """,
    category="aggregation",
    description=(
        "Time-series gap-fill + forward fill: per event_type, an hourly "
        "spine from the type's first to last active hour (sequence + "
        "explode), left-joined to the hourly rollup; missing hours appear "
        "with n_events=0 and carry the last observed hourly sum forward. "
        "The carry-forward is MAX over (hour, value) structs IGNORE-NULLS "
        "style — engine-portable (no IGNORE NULLS clause, which Spark's "
        "last() and DuckDB spell differently). The resample/interpolate "
        "primitive every metrics pipeline needs; spine generation is "
        "per-key arithmetic, the fill is one bounded window over the "
        "key's own rows."
    ),
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.date_trunc("hour", "ts").alias("h"), "value")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("obs_n"), dsum("value").alias("obs_sum"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    joined = spine.join(hourly, ["event_type", "h"], "left")
    wfill = W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    carry = F.max(
        F.when(F.col("obs_sum").isNotNull(), F.struct(F.col("h"), F.col("obs_sum").alias("s")))
    ).over(wfill)
    return joined.select(
        "event_type",
        F.col("h").alias("hour"),
        F.coalesce("obs_n", F.lit(0)).alias("n_events"),
        F.col("obs_n").isNull().cast("int").alias("is_gap"),
        carry["s"].alias("filled_sum"),
    )


@query(
    "q_events_anomaly_zscore",
    oracle="""
    WITH hourly AS (
        -- TRY_CAST mirrors dsum's round-7 non-finite tolerance: a NaN/Inf
        -- value contributes NULL (skipped by SUM) in both engines
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(SUM(TRY_CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        -- mean and sample variance from EXACT integer-cent sums: identical
        -- doubles in both engines (no engine-specific streaming-variance
        -- accumulation order)
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(sum_value * 100) AS BIGINT)) AS DOUBLE) / 100 AS s1,
               -- HUGEINT square: INT64 * INT64 overflows DuckDB at
               -- cents² >= 2^63 (the engine squares in DECIMAL(38,0) for
               -- the same reason); both stay exact integers -> same double
               CAST(SUM(CAST(ROUND(sum_value * 100) AS HUGEINT) * CAST(ROUND(sum_value * 100) AS HUGEINT)) AS DOUBLE) / 10000 AS s2
        FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hour, h.sum_value,
           CASE WHEN s.n > 1 AND (s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1) > 0
                THEN (h.sum_value - s.s1 / s.n)
                     / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) END AS zscore,
           CAST(CASE WHEN s.n > 1 AND (s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1) > 0
                     THEN ABS((h.sum_value - s.s1 / s.n)
                          / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 2.0
                END AS INTEGER) AS is_anomaly
    FROM hourly h JOIN stats s ON h.event_type = s.event_type
    """,
    category="aggregation",
    description=(
        "Hourly anomaly detection per event_type: z-score of each hour's "
        "value sum against the type's mean/stddev, where mean and sample "
        "variance derive from EXACT integer-cent sums (sum and "
        "sum-of-squares as BIGINT) — so the doubles, the z-scores, and the "
        "|z| > 2 flags are bit-identical across engines with no "
        "streaming-variance accumulation-order dependence. Two aggs (hourly, "
        "then per-type) + a broadcast join back; the monitoring primitive "
        "over any metric stream."
    ),
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events")
    hourly = (
        e.select("event_type", F.date_trunc("hour", "ts").alias("hour"), "value")
        .groupBy("event_type", "hour")
        .agg(dsum("value").alias("sum_value"))
    )
    cents = F.round(F.col("sum_value") * 100).cast("bigint")
    # square in DECIMAL(38,0), not BIGINT (round 6): DuckDB silently widens
    # BIGINT*BIGINT to HUGEINT (int128), so an hourly sum of 1e12 — cents²
    # = 1e28 — overflowed Spark's long (ANSI ARITHMETIC_OVERFLOW) while the
    # oracle sailed on. decimal(38,0) covers the square of the entire
    # BIGINT-cents domain (9.2e18² ≈ 8.5e37 < 1e38) with exact integer
    # arithmetic, so the cast-to-double result stays bit-identical to
    # DuckDB's HUGEINT path.
    sq = cents.cast("decimal(38,0)")
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents).cast("double") / 100).alias("s1"),
        (F.sum(sq * sq).cast("double") / 10000).alias("s2"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    # Degenerate series guard, mirrored verbatim in the oracle: a single
    # observed hour (n-1 = 0) or a zero-variance series rounding slightly
    # negative must yield NULL zscore in BOTH engines (DuckDB's sqrt of a
    # negative raises; Spark returns NaN — neither is a hashable answer).
    z = F.when((F.col("n") > 1) & (var > 0), (F.col("sum_value") - mean) / F.sqrt(var))
    return j.select(
        "event_type",
        "hour",
        "sum_value",
        z.alias("zscore"),
        (F.abs(z) > 2.0).cast("int").alias("is_anomaly"),
    )


@query(
    "q_events_attribution",
    oracle="""
    WITH joined AS (
        SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, p.value,
               v.ts AS view_ts, v.event_id AS view_id
        FROM events p LEFT JOIN events v
          ON v.user_id = p.user_id AND v.event_type = 'view'
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, user_id, purchase_ts, value,
           (MAX(CASE WHEN view_ts IS NOT NULL
                     THEN {'t': view_ts, 'i': view_id} END)).t AS attributed_view_ts,
           (MAX(CASE WHEN view_ts IS NOT NULL
                     THEN {'t': view_ts, 'i': view_id} END)).i AS attributed_view_id,
           COUNT(view_id) AS n_candidate_views
    FROM joined
    GROUP BY purchase_id, user_id, purchase_ts, value
    """,
    category="aggregation",
    description=(
        "Last-touch attribution: each purchase credits the LATEST view by "
        "the same user in the preceding hour (ties -> highest view id), "
        "NULL when no view qualifies. The interval join is time-band "
        "bounded (the state-expirable stream-join shape); the per-purchase "
        "argmax is a MAX over (view_ts, view_id) structs — no window pass, "
        "and the groupBy rides the join's user_id exchange. The marketing "
        "attribution primitive over any clickstream."
    ),
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    cond = (
        (F.col("user_id") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    joined = p.join(v, cond, "left")
    best = F.max(
        F.when(
            F.col("view_ts").isNotNull(),
            F.struct(F.col("view_ts").alias("t"), F.col("view_id").alias("i")),
        )
    )
    return (
        joined.groupBy("purchase_id", "user_id", "purchase_ts", "value")
        # one struct-max buffer; fields projected after the agg
        .agg(best.alias("_b"), F.count("view_id").alias("n_candidate_views"))
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "value",
            F.col("_b.t").alias("attributed_view_ts"),
            F.col("_b.i").alias("attributed_view_id"),
            "n_candidate_views",
        )
    )


def _correlation_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               {dsum_sql('value')} AS v
        FROM events GROUP BY 1, 2
    ),
    hv AS (SELECT * FROM hourly WHERE v IS NOT NULL),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.v AS va, b.v AS vb
        FROM hv a JOIN hv b ON a.h = b.h AND a.event_type < b.event_type
    ),
    m AS (
        SELECT type_a, type_b, CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('va')} AS sx, {dsum_sql('vb')} AS sy,
               {dsum_sql('va * vb', 4)} AS sxy,
               {dsum_sql('va * va', 4)} AS sx2,
               {dsum_sql('vb * vb', 4)} AS sy2
        FROM p GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
           (n * sxy - sx * sy)
             / (SQRT(GREATEST(n * sx2 - sx * sx, CAST(0 AS DOUBLE)))
                * SQRT(GREATEST(n * sy2 - sy * sy, CAST(0 AS DOUBLE)))) AS corr
    FROM m
    """


@query(
    "q_events_correlation",
    oracle=_correlation_oracle(),
    category="aggregation",
    description=(
        "Pairwise Pearson correlation matrix between event types' hourly "
        "value series (upper triangle, paired on hours where both types "
        "are active). The metric-correlation pass an observability stack "
        "runs across its series store. Engine shape: correlation is NOT "
        "computed with the built-in corr() — a running float aggregate "
        "whose merge order varies with partitioning — but from the five "
        "moment sums, each an exact fixed-point dsum, combined in one "
        "per-group double expression: bit-identical across engines and "
        "partitionings. The pair join is hour-keyed on the already-reduced "
        "hourly rollup (|types|x|hours| rows, never the raw fact table); "
        "zero-variance pairs (constant bursts) yield NULL via try_divide, "
        "and GREATEST(.,0) clamps the tiny negative variance a fixed-grid "
        "cancellation can produce, on both engines — sqrt(negative) would "
        "be NaN on Spark but an Out-of-Range ERROR on DuckDB."
    ),
)
def q_events_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    a = hourly.select(F.col("event_type").alias("type_a"), "h", F.col("v").alias("va"))
    b = hourly.select(F.col("event_type").alias("type_b"), "h", F.col("v").alias("vb"))
    pairs = a.join(b, "h").filter(F.col("type_a") < F.col("type_b"))
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("va").alias("sx"),
        dsum("vb").alias("sy"),
        dsum(F.col("va") * F.col("vb"), 4).alias("sxy"),
        dsum(F.col("va") * F.col("va"), 4).alias("sx2"),
        dsum(F.col("vb") * F.col("vb"), 4).alias("sy2"),
    )
    corr = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(F.greatest(F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"), F.lit(0.0)))
        * F.sqrt(F.greatest(F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"), F.lit(0.0))),
    )
    return m.select(
        "type_a",
        "type_b",
        F.col("n").cast("bigint").alias("n_hours"),
        corr.alias("corr"),
    )


@query(
    "q_events_path_mining",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type, 1) OVER w AS t1, LAG(event_type, 2) OVER w AS t2,
               LAG(ts, 1) OVER w AS ts1, LAG(ts, 2) OVER w AS ts2
        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT t2 || '>' || t1 || '>' || event_type AS path, COUNT(*) AS cnt
        FROM s
        WHERE t2 IS NOT NULL
          AND ts1 >= ts - INTERVAL 30 MINUTE
          AND ts2 >= ts1 - INTERVAL 30 MINUTE
        GROUP BY 1
    )
    SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, path) AS rank, path, cnt
    FROM paths ORDER BY cnt DESC, path LIMIT 20
    """,
    category="aggregation",
    description=(
        "Navigation path mining: top-20 3-step event-type paths users "
        "actually walk, counted only within a session (both hops <= 30 "
        "min apart — the same gap rule as the session windows). The "
        "click-path analysis a web-browsing-log warehouse runs for UX "
        "and recommendation work. Shape: two lags ride ONE user_id "
        "window pass, the path count is one hash aggregation over a "
        "|types|³-bounded key domain, and the top-20 is distributed "
        "TakeOrdered + a 20-row ranking window (one_group) — no global "
        "sort, no fact-sized window. Tie-break (cnt DESC, path) is "
        "total, so the result is deterministic and hash-provable."
    ),
)
def q_events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import one_group

    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        "ts",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("ts", 1).over(w).alias("ts1"),
        F.lag("ts", 2).over(w).alias("ts2"),
    )
    paths = (
        s.filter(
            F.col("t2").isNotNull()
            & (F.col("ts1") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("ts2") >= F.col("ts1") - F.expr("INTERVAL 30 MINUTES"))
        )
        .select(F.concat_ws(">", "t2", "t1", "event_type").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = paths.orderBy(F.col("cnt").desc(), "path").limit(20)
    wr = W.partitionBy(one_group("path")).orderBy(F.col("cnt").desc(), "path")
    return top.select(F.row_number().over(wr).alias("rank"), "path", "cnt")


def _chisq_oracle() -> str:
    from .relational import dsum_sql

    contrib = dsum_sql(
        "((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e)) / e", 6
    )
    return f"""
    WITH cells AS (
        SELECT user_id % 10 AS cohort, event_type, COUNT(*) AS o
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rt AS (SELECT cohort, SUM(o) AS rtot FROM cells GROUP BY cohort),
    ct AS (SELECT event_type, SUM(o) AS ctot FROM cells GROUP BY event_type),
    nn AS (SELECT SUM(o) AS n, COUNT(DISTINCT cohort) AS nr,
                  COUNT(DISTINCT event_type) AS nc
           FROM cells),
    ex AS (
        SELECT c.o,
               (CAST(r.rtot AS DOUBLE) * CAST(t.ctot AS DOUBLE))
                 / CAST(nn.n AS DOUBLE) AS e
        FROM cells c
        JOIN rt r ON c.cohort = r.cohort
        JOIN ct t ON c.event_type = t.event_type
        CROSS JOIN nn
    )
    SELECT CAST(nn.n AS BIGINT) AS n,
           CAST((nn.nr - 1) * (nn.nc - 1) AS BIGINT) AS dof,
           s.chi2
    FROM nn CROSS JOIN (SELECT {contrib} AS chi2 FROM ex) s
    """


@query(
    "q_events_chisq",
    oracle=_chisq_oracle(),
    category="aggregation",
    description=(
        "Chi-squared test of independence between user cohort "
        "(user_id % 10) and event type: observed cell counts vs "
        "expected-under-independence (row_total x col_total / n), one "
        "statistic row (n, dof, chi2). The does-behavior-differ-by-cohort "
        "screen an experimentation platform runs. All inputs are exact "
        "integer counts; the one cross-row float reduction (summing cell "
        "contributions) runs through fixed-point dsum, so the statistic "
        "is bit-identical across engines and partitionings. The cell "
        "table is |cohorts| x |types| — the totals joins and the final "
        "reduction touch only that bounded table, never the fact scan."
    ),
)
def q_events_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select((F.col("user_id") % 10).alias("cohort"), "event_type")
    )
    cells = e.groupBy("cohort", "event_type").agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("cohort").agg(F.sum("o").alias("rtot"))
    ct = cells.groupBy("event_type").agg(F.sum("o").alias("ctot"))
    nn = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("cohort").alias("nr"),
        F.count_distinct("event_type").alias("nc"),
    )
    ex = (
        cells.join(rt, "cohort")
        .join(ct, "event_type")
        .crossJoin(F.broadcast(nn))
        .select(
            "o",
            (
                (F.col("rtot").cast("double") * F.col("ctot").cast("double"))
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    contrib = ((F.col("o").cast("double") - F.col("e")) * (F.col("o").cast("double") - F.col("e"))) / F.col("e")
    s = ex.agg(dsum(contrib, 6).alias("chi2"))
    return nn.crossJoin(F.broadcast(s)).select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
        "chi2",
    )


def _winsorize_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH fin AS (
        SELECT event_type, value FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL AND isfinite(value)
    ),
    b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.99) AS hi
        FROM fin GROUP BY event_type
    )
    SELECT f.event_type, b.lo, b.hi,
           COUNT(*) AS n,
           COUNT(CASE WHEN f.value < b.lo THEN 1 END) AS n_clamped_lo,
           COUNT(CASE WHEN f.value > b.hi THEN 1 END) AS n_clamped_hi,
           {dsum_sql('LEAST(GREATEST(f.value, b.lo), b.hi)', 4)} AS winsorized_sum
    FROM fin f JOIN b ON f.event_type = b.event_type
    GROUP BY f.event_type, b.lo, b.hi
    """


@query(
    "q_events_winsorize",
    oracle=_winsorize_oracle(),
    category="aggregation",
    description=(
        "Per-type winsorization: clamp the value column to its own "
        "[p05, p99] band and report bounds, clamp counts, and the "
        "winsorized sum — the outlier-robust metric prep before any "
        "mean-based monitoring. Exact linear-interpolated percentiles "
        "(Spark percentile() ≡ DuckDB quantile_cont() on this data; in "
        "general the engines diverge 1 ulp inside duplicate-value runs — "
        "Spark buckets per distinct value, DuckDB lerps equal slots — "
        "absorbed by the 6-decimal float canonicalization on all probed "
        "data — a 1-ulp value straddling a 0.5e-6 rounding boundary "
        "remains a theoretical parity gap, SCALE.md r13) "
        "gate the oracle; at 100 TB swap the "
        "BOUND computation to the mergeable approx_percentile sketch "
        "(same clamp join, and the sketch's error envelope is already "
        "gated by q_agg_approx_percentile_gate) — exact per-group "
        "percentile buffers every value of a group in one aggregation "
        "buffer, which is the documented non-scale path. Non-finite "
        "garbage (NaN/±Inf, routine in metric columns) is excluded with "
        "mirrored finite-ness predicates on both engines; the bounds "
        "table is |types|-sized, so its join back to the fact stream is "
        "an AQE broadcast."
    ),
)
def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    fin = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & (F.abs("value") < F.lit(float("inf")))
        )
        .select("event_type", "value")
    )
    b = fin.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("lo"),
        F.expr("percentile(value, 0.99D)").alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        fin.join(b, "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_clamped_lo"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_clamped_hi"),
            dsum(clamped, 4).alias("winsorized_sum"),
        )
        .select("event_type", "lo", "hi", "n", "n_clamped_lo", "n_clamped_hi", "winsorized_sum")
    )


@query(
    "q_events_robust_zscore",
    oracle="""
    WITH fin AS (
        SELECT event_type, value FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL AND isfinite(value)
    ),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM fin GROUP BY event_type
    ),
    dev AS (
        SELECT f.event_type, f.value, m.med, ABS(f.value - m.med) AS adev
        FROM fin f JOIN med m ON f.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.med, a.mad,
           COUNT(*) AS n,
           COUNT(CASE WHEN ABS(0.6745 * (d.value - d.med) / a.mad) > 3.5
                      THEN 1 END) AS n_outliers
    FROM dev d JOIN mad a ON d.event_type = a.event_type
    WHERE a.mad > 0
    GROUP BY d.event_type, d.med, a.mad
    """,
    category="aggregation",
    description=(
        "Robust outlier detection: per-type median/MAD z-scores "
        "(0.6745·(x-med)/MAD, flagged beyond 3.5 — Iglewicz-Hoberg), the "
        "mean/stddev-free twin of q_events_anomaly_zscore that a single "
        "corrupted burst cannot drag. Two exact-percentile passes (median, "
        "then median absolute deviation) — matching DuckDB quantile_cont "
        "(probed parity; 1-ulp divergence inside duplicate-value runs is "
        "absorbed at 6 decimals on all probed data; boundary-straddling "
        "values stay a theoretical gap, SCALE.md r13) — then a counting "
        "aggregate; the "
        "median/MAD tables are |types|-sized so both joins back are AQE "
        "broadcasts. Zero-MAD types (>=50% constant values) are excluded "
        "on both sides rather than dividing by zero. Same 100 TB note as "
        "winsorize: swap the two bound computations to approx_percentile; "
        "the flagging pass is unchanged."
    ),
)
def q_events_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    fin = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & (F.abs("value") < F.lit(float("inf")))
        )
        .select("event_type", "value")
    )
    med = fin.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("med"))
    dev = fin.join(med, "event_type").withColumn("adev", F.abs(F.col("value") - F.col("med")))
    mad = dev.groupBy("event_type").agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    z = F.abs(F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        dev.join(mad, "event_type")
        .filter(F.col("mad") > 0)
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(z > 3.5, 1)).alias("n_outliers"),
        )
        .select("event_type", "med", "mad", "n", "n_outliers")
    )


def _trend_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hx,
               {dsum_sql('value')} AS v
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    ),
    hv AS (SELECT * FROM hourly WHERE v IS NOT NULL),
    m AS (
        SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(hx) AS DOUBLE) AS sx,
               {dsum_sql('v')} AS sy,
               CAST(SUM(hx * hx) AS DOUBLE) AS sx2,
               {dsum_sql('hx * v')} AS sxy
        FROM hv GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope_per_hour,
           (sy - ((n * sxy - sx * sy) / (n * sx2 - sx * sx)) * sx) / n AS intercept
    FROM m WHERE n > 1
    """


@query(
    "q_events_trend",
    oracle=_trend_oracle(),
    category="aggregation",
    description=(
        "Per-type linear trend: least-squares slope and intercept of the "
        "hourly value sum against the integer hour index — the "
        "is-this-metric-drifting screen behind every monitoring alert. "
        "Same moment-sum discipline as the correlation matrix: the hour "
        "index is an exact BIGINT (epoch/3600), the y side and the mixed "
        "moment run through fixed-point dsum, integer moments through "
        "plain exact SUMs, and slope/intercept are one per-group double "
        "expression over those exact inputs — bit-identical across "
        "engines and partitionings, no order-dependent float aggregate. "
        "Everything after the hourly rollup is |types|-sized. Types with "
        "a single active hour are excluded (undefined slope) on both "
        "sides."
    ),
)
def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        e.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hx"),
        )
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("hx").cast("double").alias("sx"),
        dsum("v").alias("sy"),
        F.sum(F.col("hx") * F.col("hx")).cast("double").alias("sx2"),
        dsum(F.col("hx") * F.col("v")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return (
        m.filter(F.col("n") > 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_hours"),
            slope.alias("slope_per_hour"),
            ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        )
    )


@query(
    "q_events_conversion_latency",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, ts FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    v AS (SELECT user_id, MIN(ts) AS vts FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
        SELECT p.user_id,
               CAST(FLOOR(epoch(MIN(p.ts))) AS BIGINT)
                 - CAST(FLOOR(epoch(v.vts)) AS BIGINT) AS delta_secs
        FROM e p JOIN v ON p.user_id = v.user_id
        WHERE p.event_type = 'purchase' AND p.ts >= v.vts
        GROUP BY p.user_id, v.vts
    )
    SELECT COUNT(*) AS n_converted,
           quantile_cont(delta_secs, 0.5) AS median_secs,
           quantile_cont(delta_secs, 0.9) AS p90_secs
    FROM conv
    """,
    category="aggregation",
    description=(
        "Conversion-latency distribution: per user, seconds from FIRST "
        "view to FIRST subsequent purchase; global median and p90 over "
        "converting users — the how-long-does-conversion-take companion "
        "to the step-count funnel (q_events_funnel). First-touch anchors "
        "(MIN per user) make the metric deterministic; the latency is "
        "integer epoch-second arithmetic (the retention idiom, "
        "engine-exact); the percentiles are exact linear interpolation "
        "(probed equal to DuckDB quantile_cont at 6 decimals; approx_percentile "
        "is the documented 100 TB swap). Both aggregations ride the "
        "user_id exchange; the final reduction sees one bigint per "
        "converting user."
    ),
)
def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("vts"))
        .groupBy("user_id", "vts")
        .agg(F.min("ts").alias("pts"))
        .select(
            (
                F.floor(F.unix_timestamp("pts")).cast("bigint")
                - F.floor(F.unix_timestamp("vts")).cast("bigint")
            ).alias("delta_secs")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delta_secs, 0.5D)").alias("median_secs"),
        F.expr("percentile(delta_secs, 0.9D)").alias("p90_secs"),
    )


# ---------------------------------------------------------------------------
# Round 9: two more classic series/experiment statistics over the same
# hourly-rollup and per-user exchanges the rest of the family rides.
# ---------------------------------------------------------------------------


def _welch_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH e AS (
        SELECT event_type, user_id % 2 = 0 AS in_a, value FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE in_a) AS DOUBLE) AS na,
               CAST(COUNT(*) FILTER (WHERE NOT in_a) AS DOUBLE) AS nb,
               {dsum_sql('CASE WHEN in_a THEN value END')} AS sa,
               {dsum_sql('CASE WHEN NOT in_a THEN value END')} AS sb,
               {dsum_sql('CASE WHEN in_a THEN value * value END', 4)} AS sa2,
               {dsum_sql('CASE WHEN NOT in_a THEN value * value END', 4)} AS sb2
        FROM e GROUP BY event_type
    ),
    v AS (
        SELECT *,
               CASE WHEN na > 1 THEN GREATEST((sa2 - sa * sa / na) / (na - 1), CAST(0 AS DOUBLE)) END AS va,
               CASE WHEN nb > 1 THEN GREATEST((sb2 - sb * sb / nb) / (nb - 1), CAST(0 AS DOUBLE)) END AS vb
        FROM m
    )
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           sa / na AS mean_a, sb / nb AS mean_b,
           (sa / na - sb / nb) / SQRT(va / na + vb / nb) AS t_stat,
           (va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)) AS df_welch
    FROM v
    """


@query(
    "q_events_ab_welch",
    oracle=_welch_oracle(),
    category="aggregation",
    description=(
        "Welch's unequal-variance t-test per event type between the two "
        "user-parity cohorts (user_id % 2 — the deterministic A/B split an "
        "experiment pipeline hashes users into): cohort sizes, means, the "
        "t statistic, and the Welch-Satterthwaite degrees of freedom. The "
        "chi-square query tests categorical independence; this is its "
        "continuous-metric sibling. Both cohorts' count/sum/sum-of-squares "
        "ride ONE event_type exchange as conditional aggregates (map-side "
        "partials; no per-cohort re-shuffle), the moment sums are exact "
        "fixed-point dsums, and the final statistic is one per-group double "
        "expression — bit-identical across engines and partitionings. "
        "Zero-variance or single-sample cohorts yield NULL via try_divide "
        "(DuckDB's NULL-on-zero division), GREATEST clamps float-"
        "cancellation negatives inside the guarded na>1/nb>1 branch only "
        "(a bare GREATEST(NULL, 0) diverges between engines)."
    ),
)
def q_events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    in_a = F.col("user_id") % 2 == 0
    m = e.groupBy("event_type").agg(
        F.count(F.when(in_a, True)).cast("double").alias("na"),
        F.count(F.when(~in_a, True)).cast("double").alias("nb"),
        dsum(F.when(in_a, F.col("value"))).alias("sa"),
        dsum(F.when(~in_a, F.col("value"))).alias("sb"),
        dsum(F.when(in_a, F.col("value") * F.col("value")), 4).alias("sa2"),
        dsum(F.when(~in_a, F.col("value") * F.col("value")), 4).alias("sb2"),
    )
    na, nb = F.col("na"), F.col("nb")
    sa, sb = F.col("sa"), F.col("sb")
    va = F.when(
        na > 1,
        F.greatest(
            (F.col("sa2") - sa * sa / na) / (na - F.lit(1.0)), F.lit(0.0)
        ),
    )
    vb = F.when(
        nb > 1,
        F.greatest(
            (F.col("sb2") - sb * sb / nb) / (nb - F.lit(1.0)), F.lit(0.0)
        ),
    )
    v = m.withColumn("va", va).withColumn("vb", vb)
    se2 = F.col("va") / na + F.col("vb") / nb
    t_stat = F.try_divide(
        F.try_divide(sa, na) - F.try_divide(sb, nb), F.sqrt(se2)
    )
    df_welch = F.try_divide(
        se2 * se2,
        (F.col("va") / na) * (F.col("va") / na) / (na - F.lit(1.0))
        + (F.col("vb") / nb) * (F.col("vb") / nb) / (nb - F.lit(1.0)),
    )
    return v.select(
        "event_type",
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.try_divide(sa, na).alias("mean_a"),
        F.try_divide(sb, nb).alias("mean_b"),
        t_stat.alias("t_stat"),
        df_welch.alias("df_welch"),
    )


#: EWMA smoothing factor — fixed engine constant like the funnel's 24 h gap.
EWMA_ALPHA = 0.25


def _ewma_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               {dsum_sql('value')} AS v
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    hv AS (SELECT * FROM hourly WHERE v IS NOT NULL),
    s AS (
        SELECT event_type, COUNT(*) AS n_hours, list(v ORDER BY h) AS vals
        FROM hv GROUP BY event_type
    )
    SELECT event_type, n_hours,
           vals[len(vals)] AS last_v,
           list_reduce(CAST(vals AS DOUBLE[]),
                       (a, b) -> 0.25 * b + 0.75 * a) AS ewma
    FROM s
    """


@query(
    "q_events_ewma",
    oracle=_ewma_oracle(),
    category="aggregation",
    description=(
        "Exponentially-weighted moving average (alpha=0.25) of each event "
        "type's hourly value series — the smoothed current level an "
        "alerting stack compares fresh points against (the recursive "
        "sibling of the windowed z-score). The recurrence is inherently "
        "sequential, so it folds per type over the hour-sorted value array "
        "with identical seed-with-first / fold-left semantics in both "
        "engines (Spark aggregate() over slice(2..), DuckDB list_reduce) — "
        "the same double expression in the same order, bit-identical "
        "without quantization. The array is |hours|-bounded per type "
        "(calendar-bounded like the gap-fill/trend series, NOT SF-bounded: "
        "100 TB of events still spans the same wall-clock hours), built on "
        "the one hourly-rollup exchange the whole series family shares."
    ),
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    s = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", "v"))), lambda x: x["v"]
        ).alias("vals"),
    )
    arr = F.col("vals")
    ewma = F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - 1),
        F.element_at(arr, 1),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return s.select(
        "event_type",
        "n_hours",
        F.element_at(arr, -1).alias("last_v"),
        ewma.alias("ewma"),
    )


def _spearman_oracle() -> str:
    from .relational import dsum_sql

    return f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               {dsum_sql('value')} AS v
        FROM events GROUP BY 1, 2
    ),
    hv AS (SELECT * FROM hourly WHERE v IS NOT NULL),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.v AS va, b.v AS vb
        FROM hv a JOIN hv b ON a.h = b.h AND a.event_type < b.event_type
    ),
    r AS (
        SELECT type_a, type_b,
               RANK() OVER (PARTITION BY type_a, type_b ORDER BY va)
                 + (COUNT(*) OVER (PARTITION BY type_a, type_b, va) - 1) / 2.0 AS rx,
               RANK() OVER (PARTITION BY type_a, type_b ORDER BY vb)
                 + (COUNT(*) OVER (PARTITION BY type_a, type_b, vb) - 1) / 2.0 AS ry
        FROM p
    ),
    m AS (
        SELECT type_a, type_b, CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('rx', 1)} AS sx, {dsum_sql('ry', 1)} AS sy,
               {dsum_sql('rx * ry', 2)} AS sxy,
               {dsum_sql('rx * rx', 2)} AS sx2,
               {dsum_sql('ry * ry', 2)} AS sy2
        FROM r GROUP BY 1, 2
    )
    SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
           (n * sxy - sx * sy)
             / (SQRT(GREATEST(n * sx2 - sx * sx, CAST(0 AS DOUBLE)))
                * SQRT(GREATEST(n * sy2 - sy * sy, CAST(0 AS DOUBLE)))) AS rho
    FROM m
    """


@query(
    "q_events_spearman",
    oracle=_spearman_oracle(),
    category="aggregation",
    description=(
        "Spearman rank correlation between event types' hourly value "
        "series — the outlier-robust twin of the Pearson matrix "
        "(q_events_correlation), computed as Pearson on fractional ranks. "
        "Ties take the textbook average rank (RANK() min-rank + "
        "(tie_count-1)/2, exact halves — dsum scale 1/2 keeps the rank "
        "moments on an exact grid). Both rank windows and both tie-count "
        "windows ride the ONE (type_a,type_b)-keyed exchange (same "
        "partition keys, different sort — Spark re-sorts within the "
        "exchange, never re-shuffles); the pair table is built on the "
        "|types|x|hours| hourly rollup, never the raw facts; zero-variance "
        "rank series (all-tied values) yield NULL via try_divide and "
        "GREATEST clamps cancellation negatives — the exact discipline the "
        "Pearson twin certified."
    ),
)
def q_events_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import dsum

    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(dsum("value").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    a = hourly.select(F.col("event_type").alias("type_a"), "h", F.col("v").alias("va"))
    b = hourly.select(F.col("event_type").alias("type_b"), "h", F.col("v").alias("vb"))
    pairs = a.join(b, "h").filter(F.col("type_a") < F.col("type_b"))
    pair = ["type_a", "type_b"]
    rx = (
        F.rank().over(W.partitionBy(*pair).orderBy("va"))
        + (F.count(F.lit(1)).over(W.partitionBy(*pair, "va")) - 1) / 2.0
    )
    ry = (
        F.rank().over(W.partitionBy(*pair).orderBy("vb"))
        + (F.count(F.lit(1)).over(W.partitionBy(*pair, "vb")) - 1) / 2.0
    )
    r = pairs.select(*pair, rx.alias("rx"), ry.alias("ry"))
    m = r.groupBy(*pair).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("rx", 1).alias("sx"),
        dsum("ry", 1).alias("sy"),
        dsum(F.col("rx") * F.col("ry"), 2).alias("sxy"),
        dsum(F.col("rx") * F.col("rx"), 2).alias("sx2"),
        dsum(F.col("ry") * F.col("ry"), 2).alias("sy2"),
    )
    rho = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(F.greatest(F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"), F.lit(0.0)))
        * F.sqrt(F.greatest(F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"), F.lit(0.0))),
    )
    return m.select(
        "type_a",
        "type_b",
        F.col("n").cast("bigint").alias("n_hours"),
        rho.alias("rho"),
    )


@query(
    "q_events_type_affinity",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    sizes AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
    category="aggregation",
    description=(
        "Event-type affinity matrix: Jaccard overlap between every pair of "
        "event types' user bases — the co-occurrence / market-basket pass "
        "behind 'users who do X also do Y'. Shape: ONE distinct reduction "
        "to (user, type) — |users|x|types| bounded — then the pair join is "
        "user-keyed on that reduced table (<=|types|^2 rows per user, never "
        "a type-level cross join of the fact table) and the per-type sizes "
        "re-aggregate the same reduction. All counts exact integers; the "
        "single double division is the same expression text in both "
        "engines."
    ),
)
def q_events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ut = barrier(e.select("user_id", "event_type").distinct())
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        # sizes is |types|-bounded but a grouped aggregate — UNHINTED (lint
        # discipline); AQE broadcasts it from observed size
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )
