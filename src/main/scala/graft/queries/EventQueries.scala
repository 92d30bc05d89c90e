package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.DetAgg.{Sql => D}
import graft.functions.DetAgg
import graft.sources.Tables

/** Event-stream batch queries over the `events` table: time bucketing,
  * lead/lag sessionization, JSON property extraction — the batch faces of
  * the streaming extension (the reference has no event data; SURVEY §2.6
  * notes lead/lag absent — these close that gap for the training-pipeline
  * surface).
  *
  * Timestamp parity note: `events.ts` arrives at µs TimestampType via
  * [[graft.sources.Tables.loadEvents]], which probes the physical unit on
  * disk (the generator has shipped both raw-ns INT64 and annotated-µs
  * TIMESTAMP) — every oracle-visible timestamp additionally goes through
  * `date_trunc('second')` so both engines see identical values.
  */
object EventQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.loadEvents(s, d)

  /** 5-minute epoch-bucket aggregation (the batch twin of
    * `streaming.EventsStream.windowedAgg`).
    */
  val e1Buckets: Q = Q(
    "e1_time_buckets",
    Some(s"""SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket,
            |  event_type, COUNT(*) AS n, ${D.dsum("value")} AS sum_value
            |FROM events GROUP BY bucket, event_type""".stripMargin),
    (s, dir) =>
      ev(s, dir)
        .withColumn("bucket", floor(unix_timestamp(col("ts")) / 300).cast(LongType))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n"), DetAgg.dsum(col("value")).as("sum_value")))

  /** Sessionization: per user, a >30-minute gap starts a new session;
    * session ids via lag + running sum, then per-session stats. Second
    * truncation keeps ns-vs-µs engines identical.
    */
  val e2Sessionize: Q = Q(
    "e2_sessionize",
    Some("""WITH t AS (SELECT user_id, event_id,
           |             date_trunc('second', ts) AS tss FROM events),
           |m AS (SELECT user_id, event_id, tss,
           |        CASE WHEN lag(tss) OVER w IS NULL
           |               OR epoch(tss) - epoch(lag(tss) OVER w) > 1800
           |             THEN 1 ELSE 0 END AS new_session
           |      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)),
           |s AS (SELECT user_id, event_id, tss,
           |        CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY tss, event_id
           |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           |      FROM m)
           |SELECT user_id, session_id, COUNT(*) AS n_events,
           |  min(tss) AS session_start, max(tss) AS session_end
           |FROM s GROUP BY user_id, session_id""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("tss"), col("event_id"))
      val t = ev(s, dir)
        .select(col("user_id"), col("event_id"), date_trunc("second", col("ts")).as("tss"))
      val marked = t.withColumn(
        "new_session",
        when(
          lag(col("tss"), 1).over(w).isNull ||
            (unix_timestamp(col("tss")) - unix_timestamp(lag(col("tss"), 1).over(w)) > 1800),
          1).otherwise(0))
      val sessions = marked.withColumn(
        "session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sessions
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          min("tss").as("session_start"),
          max("tss").as("session_end"))
    })

  /** JSON property extraction from the `props` column. */
  val e3Json: Q = Q(
    "e3_json_props",
    Some("""SELECT event_id,
           |  CAST(json_extract(props, '$.k') AS INT) AS k
           |FROM events""".stripMargin),
    (s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")))

  /** As-of join: each click event picks up the value of the user's most
    * recent view event (≤ in microseconds — exact on both engines).
    * Oracle = DuckDB's native ASOF LEFT JOIN; the Spark side is the
    * union+window composition (one shuffle, no range explosion).
    */
  val e4AsOf: Q = Q(
    "e4_asof_join",
    Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us
           |           FROM events WHERE event_type = 'click'),
           |     v AS (SELECT user_id, epoch_us(ts) AS us, value
           |           FROM events WHERE event_type = 'view')
           |SELECT c.event_id, c.user_id, v.value AS asof_value
           |FROM c ASOF LEFT JOIN v
           |  ON c.user_id = v.user_id AND v.us <= c.us""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "us")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "us", "value")
      graft.operators.AsOfJoin
        .asOf(clicks, views, Seq("user_id"), "us", "us", Seq("value"))
        .select(col("event_id"), col("user_id"), col("asof_value").as("asof_value"))
    })

  /** Nearest-direction as-of with tolerance
    * ([[graft.operators.AsOfJoin.asOfNearest]]): each click takes the
    * closest view value within ±1 h in EITHER direction, ties backward —
    * pandas `merge_asof(direction='nearest', tolerance=1h)`. DuckDB has
    * no nearest ASOF, so the oracle replays the same two-direction
    * window composition in portable SQL (IGNORE NULLS carries), making
    * the tie and tolerance rules themselves hash-checked.
    */
  val e4AsofNearest: Q = Q(
    "e4_asof_nearest",
    Some("""WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us
           |           FROM events WHERE event_type = 'click'),
           |v AS (SELECT user_id, epoch_us(ts) AS us, value
           |      FROM events WHERE event_type = 'view' AND value IS NOT NULL),
           |u AS (
           |  SELECT user_id, us, 0 AS side, event_id,
           |         CAST(NULL AS DOUBLE) AS val FROM c
           |  UNION ALL
           |  SELECT user_id, us, 1, NULL, value FROM v),
           |m AS (
           |  SELECT user_id, us, side, event_id,
           |    last_value(CASE WHEN side = 1 THEN us END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY us, side DESC
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
           |    last_value(CASE WHEN side = 1 THEN val END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY us, side DESC
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
           |    first_value(CASE WHEN side = 1 THEN us END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY us, side
           |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
           |    first_value(CASE WHEN side = 1 THEN val END IGNORE NULLS)
           |      OVER (PARTITION BY user_id ORDER BY us, side
           |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
           |  FROM u)
           |SELECT event_id, user_id,
           |  CASE WHEN pt IS NOT NULL AND (nt IS NULL OR us - pt <= nt - us)
           |       THEN CASE WHEN us - pt <= 3600000000 THEN pv END
           |       ELSE CASE WHEN nt - us <= 3600000000 THEN nv END END
           |    AS asof_value
           |FROM m WHERE side = 0""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).withColumn("us", unix_micros(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "us")
      val views = e.filter(col("event_type") === "view" && col("value").isNotNull)
        .select("user_id", "us", "value")
      graft.operators.AsOfJoin
        .asOfNearest(clicks, views, Seq("user_id"), "us", "us", "value",
          tolerance = 3600000000L)
        .select("event_id", "user_id", "asof_value")
    })

  /** Batch point-in-interval join on the BUCKETED scale path
    * ([[graft.operators.IntervalJoin]]): purchases falling inside "hot"
    * promo windows (hours with ≥ 4 views, widened to [hour−30 min,
    * hour+90 min) so intervals OVERLAP and cross bucket edges — the
    * non-aligned case the bucket+refine pattern exists for). A bare
    * range join with no equi key plans as BroadcastNestedLoop — the
    * 100 TB cliff; here intervals explode into their 2-3 covered
    * buckets, points map to ONE bucket, the join is a plain equi
    * shuffle, and the exact range refine is row-local. The oracle runs
    * the naive range join, so the hash match proves the bucketing
    * emits exactly the contained pairs (no duplicates: a pair can meet
    * only in the point's bucket).
    */
  val e10IntervalJoin: Q = Q(
    "e10_interval_join",
    Some(s"""WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
            |hot AS (SELECT (us // 3600000000) AS hb
            |        FROM e WHERE event_type = 'view'
            |        GROUP BY 1 HAVING COUNT(*) >= 4),
            |iv AS (SELECT hb, hb * 3600000000 - 1800000000 AS lo,
            |               hb * 3600000000 + 5400000000 AS hi FROM hot),
            |p AS (SELECT us, value FROM e WHERE event_type = 'purchase')
            |SELECT hb, COUNT(*) AS n_purchase,
            |  ${D.dsum("value")} AS sum_value
            |FROM iv JOIN p ON p.us >= iv.lo AND p.us < iv.hi
            |GROUP BY hb""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).withColumn("us", unix_micros(col("ts")))
      val hot = e.filter(col("event_type") === "view")
        .groupBy(expr("us div 3600000000").as("hb"))
        .agg(count(lit(1)).as("nv")).filter(col("nv") >= 4)
        .select(
          col("hb"),
          (col("hb") * 3600000000L - 1800000000L).as("lo"),
          (col("hb") * 3600000000L + 5400000000L).as("hi"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("us", "value")
      graft.operators.IntervalJoin
        .pointInInterval(purchases, hot, "us", "lo", "hi", 3600000000L)
        .groupBy("hb")
        .agg(
          count(lit(1)).as("n_purchase"),
          DetAgg.dsum(col("value")).as("sum_value"))
    })

  /** CUSUM change detection over the hourly error-rate series — the
    * classic control chart (Page 1954), computed WITHOUT its recursive
    * clamp: `S_t = max(0, S_{t−1} + d_t)` equals
    * `P_t − min(0, min_{j≤t} P_j)` on the prefix sums `P` of the
    * demeaned series, so two running windows replace the recursion and
    * everything stays exact integer (target = ⌊total/n⌋ — integer
    * division, not a float mean, so no rounding anywhere). Windows run
    * over the PRE-AGGREGATED bucket series (bounded by the time span,
    * the e9 discipline — [[graft.plans.ScalarExpressions.singlePartitionKey]]).
    * Buckets with zero errors are absent by construction: this is the
    * observed-bucket CUSUM, identical on both engines.
    */
  val statCusum: Q = Q(
    "stat_cusum",
    Some("""WITH e AS (SELECT epoch_us(ts) AS us FROM events
           |          WHERE event_type = 'error'),
           |b AS (SELECT us // 3600000000 AS hb, COUNT(*) AS x
           |      FROM e GROUP BY 1),
           |t AS (SELECT CAST(SUM(x) AS BIGINT) AS tot, COUNT(*) AS n FROM b),
           |p AS (SELECT hb, x,
           |    SUM(x - tot // n) OVER (ORDER BY hb
           |      ROWS UNBOUNDED PRECEDING) AS pf
           |  FROM b CROSS JOIN t),
           |m AS (SELECT hb, x, pf,
           |    LEAST(MIN(pf) OVER (ORDER BY hb ROWS UNBOUNDED PRECEDING),
           |          0) AS lo
           |  FROM p)
           |SELECT hb, x, CAST(pf - lo AS BIGINT) AS cusum FROM m""".stripMargin),
    (s, dir) => {
      val b = ev(s, dir).filter(col("event_type") === "error")
        .withColumn("us", unix_micros(col("ts")))
        .groupBy(expr("us div 3600000000").as("hb"))
        .agg(count(lit(1)).as("x"))
      graft.operators.Anomaly.cusum(b, "hb", "x")
        .select("hb", "x", "cusum")
    })

  /** Conversion funnel (view → click → purchase): per user, the first
    * view, the first click strictly after it, the first purchase
    * strictly after that — stage survivor counts. Works on RAW
    * nanosecond longs on both sides (no timestamp truncation in play),
    * two hash-aggregate + join rounds, no window over the full stream.
    */
  val e5Funnel: Q = Q(
    "e5_funnel",
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
           |v AS (SELECT user_id, MIN(t) AS tv FROM e
           |      WHERE event_type = 'view' GROUP BY 1),
           |c AS (SELECT e.user_id, MIN(t) AS tc FROM e JOIN v USING (user_id)
           |      WHERE event_type = 'click' AND t > tv GROUP BY 1),
           |p AS (SELECT e.user_id, MIN(t) AS tp FROM e JOIN c USING (user_id)
           |      WHERE event_type = 'purchase' AND t > tc GROUP BY 1)
           |SELECT 'view' AS stage, COUNT(*) AS n_users FROM v
           |UNION ALL SELECT 'click_after_view', COUNT(*) FROM c
           |UNION ALL SELECT 'purchase_after_click', COUNT(*) FROM p""".stripMargin),
    (s, dir) => {
      // raw epoch longs — deliberately NOT loadEvents: only the ORDER of
      // t matters here (all comparisons are within-engine), so whichever
      // physical unit the data generation stores (ns INT64 or annotated
      // µs TIMESTAMP, both of which the forced-long schema reads as the
      // stored integer) the stage counts are exact on both engines
      val e = s.read
        .schema(graft.streaming.EventsStream.eventsSchema)
        .parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("event_type"), col("ts").as("t"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("tv"))
      val c = e.join(v, "user_id")
        .filter(col("event_type") === "click" && col("t") > col("tv"))
        .groupBy("user_id").agg(min("t").as("tc"))
      val p = e.join(c, "user_id")
        .filter(col("event_type") === "purchase" && col("t") > col("tc"))
        .groupBy("user_id").agg(min("t").as("tp"))
      v.agg(count(lit(1)).as("n_users")).select(lit("view").as("stage"), col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit("click_after_view").as("stage"), col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit("purchase_after_click").as("stage"), col("n_users")))
    })

  /** Retention cohorts — the standard activity-grid analysis: users
    * bucketed by first-seen UTC day, active-user counts per (cohort day,
    * activity day, day offset). Two hash aggregates and one join, no
    * windows; the activity relation is DISTINCT-reduced per (user, day)
    * BEFORE the final aggregate, so the count is a plain `COUNT(*)` —
    * no count-distinct Expand pass (the agg_approx_distinct lesson).
    */
  val e6Retention: Q = Q(
    "e6_retention_cohort",
    Some("""WITH e AS (SELECT user_id,
           |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS d
           |           FROM events),
           |f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id),
           |a AS (SELECT DISTINCT user_id, d FROM e)
           |SELECT cohort_day, d AS activity_day, d - cohort_day AS offset_days,
           |  COUNT(*) AS n_users
           |FROM a JOIN f USING (user_id)
           |GROUP BY 1, 2""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).select(
        col("user_id"),
        // integer `div` on the truncated-second epoch, matching the
        // oracle's `// 86400` (the e17 family discipline) — the day key
        // stays on the exact 64-bit integer route end to end instead of
        // detouring through a double divide + floor (r10 VERDICT nit)
        expr("unix_timestamp(date_trunc('second', ts)) div 86400")
          .cast(LongType).as("d"))
      val first = e.groupBy("user_id").agg(min("d").as("cohort_day"))
      e.distinct()
        .join(first, "user_id")
        .groupBy(col("cohort_day"), col("d").as("activity_day"))
        .agg(count(lit(1)).as("n_users"))
        .select(
          col("cohort_day"), col("activity_day"),
          (col("activity_day") - col("cohort_day")).as("offset_days"),
          col("n_users"))
    })

  /** Rolling 1-hour activity per user — the RANGE-frame window (every
    * event sees the count and exact value-sum of its user's trailing
    * hour), the feature-engineering shape behind rate limits, burst
    * detection, and session features. A range frame is SET-valued (all
    * peers at the same second share one frame), so no tiebreak can make
    * it nondeterministic, and the windowed value-sum rides an exact
    * DECIMAL with one final cast — order-free in both engines. Scale
    * shape: partitioned by user (bounded, millions of small partitions),
    * and WindowExec evaluates a trailing range frame streamingly — state
    * is one sliding frame, never the whole partition.
    */
  val e7Rolling: Q = Q(
    "e7_rolling_activity",
    Some("""WITH t AS (SELECT user_id, event_id,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es, value
           |  FROM events)
           |SELECT user_id, event_id, es,
           |  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_1h
           |FROM t
           |WINDOW w AS (PARTITION BY user_id ORDER BY es
           |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("es")).rangeBetween(-3600, 0)
      ev(s, dir)
        .select(
          col("user_id"), col("event_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("es"),
          col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h",
          sum(col("value").cast("decimal(30,6)")).over(w).cast("double"))
        .drop("value")
    })

  /** Time-series resample + linear gap-fill: per user, 6-hour buckets of
    * mean value; the bucket grid is densified to the user's own
    * [first, last] range and missing buckets are linearly interpolated
    * between the nearest observed neighbors — the standard
    * `resample().interpolate()` shape, distributed. Per-user windows only
    * (a user's activity span is bounded; no corpus-scale partition), the
    * grid explode is `sequence()` column arithmetic, and the bucket means
    * ride DetAgg davg so the interpolation endpoints — and therefore the
    * interpolated doubles, a fixed IEEE formula over exact longs and
    * those means — are bit-portable. Endpoint buckets are observed by
    * construction, so the fill expression never divides by null.
    */
  val e8Resample: Q = Q(
    "e8_resample_interp",
    Some(s"""WITH obs AS (
            |  SELECT user_id, CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) AS bucket,
            |    ${D.davg("value")} AS v
            |  FROM events GROUP BY 1, 2),
            |g AS (
            |  SELECT user_id, unnest(generate_series(MIN(bucket), MAX(bucket))) AS bucket
            |  FROM obs GROUP BY user_id),
            |f AS (
            |  SELECT g.user_id, g.bucket, obs.v
            |  FROM g LEFT JOIN obs ON g.user_id = obs.user_id AND g.bucket = obs.bucket),
            |w AS (
            |  SELECT user_id, bucket, v,
            |    last_value(v IGNORE NULLS) OVER wp AS pv,
            |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS pb,
            |    first_value(v IGNORE NULLS) OVER wf AS nv,
            |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wf AS nb
            |  FROM f
            |  WINDOW
            |    wp AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING),
            |    wf AS (PARTITION BY user_id ORDER BY bucket
            |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            |SELECT user_id, bucket,
            |  COALESCE(v, pv + (nv - pv) * (bucket - pb) / (nb - pb)) AS value,
            |  v IS NOT NULL AS observed
            |FROM w""".stripMargin),
    (s, dir) =>
      graft.operators.Resample.linearInterpolate(
        ev(s, dir), "user_id", col("ts"), col("value"), bucketSeconds = 21600L))

  /** Robust metric anomaly detection ([[graft.operators.Anomaly]]): per
    * event type, hourly counts flagged when they deviate from the
    * type-median by more than 3 · 1.4826 · MAD — the median/MAD baseline
    * the anomalies themselves can't inflate. Both medians are type-1
    * over exact integer ranks (no interpolation), so the oracle replays
    * the full two-round median machinery and the flags hash-match.
    * Windows partition by event type over the PRE-AGGREGATED hourly
    * relation — bounded by the time span, not the corpus.
    */
  /** Oracle SQL shared VERBATIM by `e9_anomaly_buckets` and its
    * streaming serving twin `stream_anomaly_monitor` — the two are
    * value-identical by construction (self-trained baselines), so they
    * must stay against literally one oracle text.
    */
  private val anomalyOracle: String = """WITH c AS (
           |  SELECT event_type, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
           |    COUNT(*) AS n
           |  FROM events GROUP BY 1, 2),
           |m1 AS (
           |  SELECT event_type, MIN(n) AS med FROM (
           |    SELECT event_type, n,
           |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n) AS rn,
           |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
           |    FROM c) WHERE rn >= CEIL(0.5 * cnt) GROUP BY event_type),
           |d AS (SELECT c.event_type, c.bucket, c.n, med, ABS(n - med) AS dev
           |      FROM c JOIN m1 USING (event_type)),
           |m2 AS (
           |  SELECT event_type, MIN(dev) AS mad FROM (
           |    SELECT event_type, dev,
           |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
           |      COUNT(*) OVER (PARTITION BY event_type) AS cnt
           |    FROM d) WHERE rn >= CEIL(0.5 * cnt) GROUP BY event_type)
           |SELECT event_type, bucket, n, med, mad,
           |  ABS(n - med) > 3.0 * 1.4826 * mad AS is_anomaly
           |FROM d JOIN m2 USING (event_type)""".stripMargin

  val e9Anomaly: Q = Q(
    "e9_anomaly_buckets",
    Some(anomalyOracle),
    (s, dir) =>
      graft.operators.Anomaly.robustFlags(
        ev(s, dir)
          .groupBy(
            col("event_type"),
            floor(unix_timestamp(col("ts")) / 3600).cast(LongType).as("bucket"))
          .agg(count(lit(1)).as("n")),
        Seq("event_type"), "n", k = 3.0)
        .select("event_type", "bucket", "n", "med", "mad", "is_anomaly"))

  /** The streaming anomaly monitor's plan run in BATCH over events (the
    * serving-both-ways proof, same as `stream_drift_monitor`): hourly
    * median/MAD baselines trained by [[graft.streaming.AnomalyStream
    * .baselines]] (a ≤ #categories collect), embedded as plan literals
    * into ONE windowed aggregate + literal CASE lookup — the exact plan
    * a watermarked stream runs. Self-trained, so it is value-identical
    * to `e9_anomaly_buckets` and shares its oracle VERBATIM: the hash
    * match proves the single-stateful-operator serving plan reproduces
    * the batch analysis bit-for-bit.
    */
  val streamAnomaly: Q = Q(
    "stream_anomaly_monitor",
    Some(anomalyOracle),
    (s, dir) => {
      val events = ev(s, dir)
      val base = graft.streaming.AnomalyStream
        .baselines(events, "event_type", "ts", bucketSeconds = 3600L)
      graft.streaming.AnomalyStream.monitor(base, events)
        .select(
          floor(unix_timestamp(col("window_start")) / 3600).cast(LongType).as("bucket"),
          col("event_type"), col("n"), col("med"), col("mad"), col("is_anomaly"))
        .select("event_type", "bucket", "n", "med", "mad", "is_anomaly")
    })

  /** Lag-k autocorrelation (k = 1,2,3) of the 5-minute bucket-mean value
    * series — the periodicity detector for ingest monitoring (a strong
    * r₁ on a quality metric means the crawl is drifting in runs, not
    * noise). Two-stage and windowless: (1) one hash aggregate to the
    * per-bucket means — the series length is bounded by wall-clock span
    * ÷ bucket width, NOT by data volume, so at 100 TB the series is
    * still tiny; (2) an equi-join of the series to itself on
    * `bucket + lag` (the lag grid is a 3-row literal explode) and a
    * per-lag moment aggregate. ENTIRELY integer until the final Pearson
    * tail: the per-bucket series is the exact micro-unit value sum
    * (decimal-routed, so it is order-independent at any cluster size),
    * cross-bucket products are exact DECIMAL(18,0)² products, and the
    * moment sums reach doubles through the correctly-rounded cast
    * ([[graft.functions.DetAgg.Sql.dsumExact]] VARCHAR route — the sums
    * exceed 2⁵³ micro-units immediately). Pearson r is scale-invariant,
    * so µ-units leave the statistic unchanged; the final tree is one
    * fixed IEEE expression shared with the oracle — bit-exact, unrounded.
    */
  /** Oracle CTEs `b(bucket, x)`, `p(lag, x, y)`, `g(lag, n, sx, sy, sxy,
    * sxx, syy)` for the lag-1..3 autocorrelation moments — shared between
    * `stat_autocorr` and `stat_ljung_box` so the texts cannot drift.
    */
  private val autocorrSqlCtes: String =
    """WITH b AS (
      |  SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket,
      |    CAST(SUM(CAST(value AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |p AS (SELECT l.lag, a.x AS x, c.x AS y
      |  FROM b a CROSS JOIN (VALUES (1), (2), (3)) AS l(lag)
      |  JOIN b c ON c.bucket = a.bucket + l.lag),
      |g AS (SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxy,
      |    CAST(CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxx,
      |    CAST(CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS syy
      |  FROM p GROUP BY lag)""".stripMargin

  /** Partial autocorrelations at lags 1–3 via Durbin–Levinson over the
    * shared [[autocorrSqlCtes]] correlations — the AR-order picker that
    * completes the Box–Jenkins trio ([[statAutocorr]] shows total
    * correlation, [[statLjungBox]] gates whiteness; PACF says how much
    * lag k explains AFTER lags < k, i.e. which AR(p) to fit): φ₁₁ = ρ₁,
    * φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²), φ₃₃ from the level-2 reflection. One text
    * per recursion stage shared with the oracle; everything after the
    * exact-moment CTEs is a literal IEEE tree over three doubles —
    * hash-exact unrounded.
    */
  val statPacf: Q = {
    val acTree = "(n * sxy - sx * sy)" +
      " / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
    val pivotCols = (1 to 3)
      .map(k => s"MAX(CASE WHEN lag = $k THEN ac END) AS r$k")
    val pivot = pivotCols.mkString(", ")
    val phi22 = "((r2 - r1 * r1) / (1.0 - r1 * r1))"
    val phi21 = "(r1 * (1.0 - phi22))"
    val phi33 = "((r3 - phi21 * r2 - phi22 * r1)" +
      " / (1.0 - phi21 * r1 - phi22 * r2))"
    Q(
      "stat_pacf",
      Some(s"""$autocorrSqlCtes,
              |a AS (SELECT $pivot FROM (SELECT lag, $acTree AS ac FROM g)),
              |s2 AS (SELECT r1, r2, r3, $phi22 AS phi22 FROM a),
              |s3 AS (SELECT r1, r2, r3, phi22, $phi21 AS phi21 FROM s2)
              |SELECT r1 AS pacf_1, phi22 AS pacf_2, $phi33 AS pacf_3
              |FROM s3""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d18 = DecimalType(18, 0)
        val b = ev(s, dir)
          .withColumn("bucket", floor(unix_timestamp(col("ts")) / 300).cast(LongType))
          .groupBy("bucket")
          .agg((sum(DetAgg.dec(col("value"))) * 1000000).cast(LongType).as("x"))
        val lagged = b
          .withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
          .select(col("bucket"), col("lag"), col("x"))
        val other = b.select(col("bucket").as("bucket2"), col("x").as("y"))
        val g = lagged
          .join(other, lagged("bucket") + lagged("lag") === other("bucket2"))
          .groupBy("lag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum(col("x").cast(d18) * col("y").cast(d18)).cast("double").as("sxy"),
            sum(col("x").cast(d18) * col("x").cast(d18)).cast("double").as("sxx"),
            sum(col("y").cast(d18) * col("y").cast(d18)).cast("double").as("syy"))
        g.select(col("lag"), expr(acTree).as("ac"))
          .agg(expr(pivotCols.head), pivotCols.tail.map(expr): _*)
          .withColumn("phi22", expr(phi22))
          .withColumn("phi21", expr(phi21))
          .select(
            col("r1").as("pacf_1"), col("phi22").as("pacf_2"),
            expr(phi33).as("pacf_3"))
      })
  }

  val statAutocorr: Q = Q(
    "stat_autocorr",
    Some(s"""$autocorrSqlCtes
            |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
            |  (n * sxy - sx * sy)
            |    / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS autocorr
            |FROM g""".stripMargin),
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d18 = DecimalType(18, 0)
      val b = ev(s, dir)
        .withColumn("bucket", floor(unix_timestamp(col("ts")) / 300).cast(LongType))
        .groupBy("bucket")
        .agg((sum(DetAgg.dec(col("value"))) * 1000000).cast(LongType).as("x"))
      val lagged = b
        .withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
        .select(col("bucket"), col("lag"), col("x"))
      val other = b.select(col("bucket").as("bucket2"), col("x").as("y"))
      val g = lagged
        .join(other, lagged("bucket") + lagged("lag") === other("bucket2"))
        .groupBy("lag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x").cast(d18) * col("y").cast(d18)).cast("double").as("sxy"),
          sum(col("x").cast(d18) * col("x").cast(d18)).cast("double").as("sxx"),
          sum(col("y").cast(d18) * col("y").cast(d18)).cast("double").as("syy"))
      g.select(
        col("lag"),
        col("n").cast(LongType).as("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("autocorr"))
    })

  /** Single change-point detection on the hourly event-count series —
    * the offline form of [[statCusum]] (CUSUM asks "is a shift in
    * progress NOW"; this asks "WHERE did the level shift", the question
    * an ingest post-mortem starts with). Standard binary-segmentation
    * step: the split τ maximizing the between-segment sum of squares
    * `P²/k + (S−P)²/(n−k) − S²/n` over the prefix sums — equivalently
    * minimizing the pooled SSE. The series is CALENDAR-BOUNDED (one row
    * per wall-clock hour — the [[statAutocorr]] discipline: length grows
    * with time span, not data volume), so the prefix window is a
    * deliberately-single-partition window over a bounded relation
    * ([[graft.plans.ScalarExpressions.singlePartitionKey]] contract).
    * Counts are exact BIGINTs; the gain is one literal IEEE tree over
    * their exact double casts, TEXT-shared with the oracle, and the
    * argmax is round-free (max over deterministic doubles, bucket
    * tiebreak) — hash-exact unrounded.
    */
  val tsChangepoint: Q = {
    val gain = "(pd * pd / kd + (sd - pd) * (sd - pd) / (nbd - kd)" +
      " - sd * sd / nbd)"
    Q(
      "ts_changepoint",
      Some(s"""WITH b AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM events GROUP BY 1),
              |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb,
              |    CAST(SUM(n) AS BIGINT) AS s FROM b),
              |c AS (SELECT bucket,
              |    ROW_NUMBER() OVER (ORDER BY bucket) AS k,
              |    SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS p
              |  FROM b),
              |g AS (SELECT bucket, k, p,
              |    CAST(k AS DOUBLE) AS kd, CAST(p AS DOUBLE) AS pd,
              |    CAST(nb AS DOUBLE) AS nbd, CAST(s AS DOUBLE) AS sd, nb, s
              |  FROM c CROSS JOIN t WHERE k < nb)
              |SELECT bucket AS split_bucket, CAST(k AS BIGINT) AS k_left,
              |  nb AS n_buckets, pd / kd AS mean_left,
              |  (sd - pd) / (nbd - kd) AS mean_right, $gain AS gain
              |FROM g ORDER BY $gain DESC, bucket LIMIT 1""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.{Window => W}
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("bucket"))
        val wOrd = W.partitionBy(spk).orderBy("bucket")
        val wCum = wOrd.rowsBetween(W.unboundedPreceding, 0)
        val b = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("n"))
        val t = b.agg(
          count(lit(1)).as("nb"), sum("n").cast(LongType).as("s"))
        val g = b
          .select(
            col("bucket"),
            row_number().over(wOrd).cast(LongType).as("k"),
            sum("n").over(wCum).as("p"))
          .crossJoin(broadcast(t))
          .filter(col("k") < col("nb"))
          .select(
            col("bucket"), col("k"), col("nb"), col("s"),
            col("k").cast("double").as("kd"), col("p").cast("double").as("pd"),
            col("nb").cast("double").as("nbd"), col("s").cast("double").as("sd"))
        g.select(
          col("bucket").as("split_bucket"), col("k").as("k_left"),
          col("nb").as("n_buckets"),
          (col("pd") / col("kd")).as("mean_left"),
          ((col("sd") - col("pd")) / (col("nbd") - col("kd"))).as("mean_right"),
          expr(gain).as("gain"))
          .orderBy(col("gain").desc, col("split_bucket"))
          .limit(1)
      })
  }

  /** Two-sample Poisson rate test per event type: did the arrival rate
    * change between the first and second half of the window? Equal
    * exposure halves make the conditional test a binomial around ½, so
    * the classic z = (k₁ − k₂)/√(k₁ + k₂) — counts are exact integers
    * from ONE conditional aggregate against a broadcast midpoint, z one
    * fixed IEEE tree — hash-exact unrounded. The per-type row is what a
    * rate monitor alerts on ([[statCusum]] localizes WHERE; this says
    * WHETHER, with a calibrated null).
    */
  /** Oracle CTEs `e(event_type, es)`, `t(mid)`, `g(event_type, k1, k2)`,
    * `z0(event_type, k1, k2, z)` for the per-type half-split Poisson-rate
    * z — ONE text shared between `stat_poisson_rate` and `stat_fdr_bh`
    * (the autocorrSqlCtes discipline) so the two z formulas can never
    * silently drift.
    */
  private val poissonRateSqlCtes: String =
    """WITH e AS (SELECT event_type,
      |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
      |  FROM events),
      |t AS (SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM e),
      |g AS (SELECT event_type,
      |    CAST(SUM(CASE WHEN es <= mid THEN 1 ELSE 0 END) AS BIGINT) AS k1,
      |    CAST(SUM(CASE WHEN es > mid THEN 1 ELSE 0 END) AS BIGINT) AS k2
      |  FROM e CROSS JOIN t GROUP BY 1),
      |z0 AS (SELECT event_type, k1, k2,
      |    (CAST(k1 AS DOUBLE) - k2) / SQRT(CAST(k1 + k2 AS DOUBLE)) AS z
      |  FROM g)""".stripMargin

  /** The matching Spark plan: (event_type, k1, k2, z) — shared by the
    * same two queries as [[poissonRateSqlCtes]].
    */
  private def poissonRateZ(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = ev(s, dir).select(
      col("event_type"),
      unix_timestamp(date_trunc("second", col("ts"))).as("es"))
    val t = e.agg(expr("(min(es) + max(es)) div 2").as("mid"))
    e.crossJoin(broadcast(t))
      .groupBy("event_type")
      .agg(
        sum(when(col("es") <= col("mid"), 1L).otherwise(0L)).as("k1"),
        sum(when(col("es") > col("mid"), 1L).otherwise(0L)).as("k2"))
      .select(
        col("event_type"), col("k1"), col("k2"),
        ((col("k1").cast("double") - col("k2"))
          / sqrt((col("k1") + col("k2")).cast("double"))).as("z"))
  }

  val statPoissonRate: Q = Q(
    "stat_poisson_rate",
    Some(s"""$poissonRateSqlCtes
           |SELECT event_type, k1, k2, z FROM z0""".stripMargin),
    (s, dir) => poissonRateZ(s, dir))

  /** RFM segmentation (recency / frequency / monetary) — the classic
    * user-value grid, composed from three drives of the SHARDED
    * percent-rank kernel ([[graft.functions.Stats.percentRank]]) over the
    * user-cardinality relation: score_d = min(⌊5·pct⌋+1, 5) per
    * dimension, so no corpus-wide NTILE window exists anywhere. The
    * monetary sum rides the exact decimal route (identical bits become
    * the rank-join key); the oracle replays with plain PERCENT_RANK
    * windows — the hash match re-proves the sharded kernel on three
    * metrics at once. Output is the bounded ≤125-row segment census.
    */
  val e14Rfm: Q = Q(
    "e14_rfm_segmentation",
    Some(s"""WITH e AS (SELECT user_id,
            |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es, value
            |  FROM events),
            |u AS (SELECT user_id, MAX(es) AS last_es,
            |    CAST(COUNT(*) AS BIGINT) AS freq, ${D.dsum("value")} AS mon
            |  FROM e GROUP BY 1),
            |p AS (SELECT user_id,
            |    PERCENT_RANK() OVER (ORDER BY last_es) AS pr,
            |    PERCENT_RANK() OVER (ORDER BY freq) AS pf,
            |    PERCENT_RANK() OVER (ORDER BY mon) AS pm
            |  FROM u),
            |s AS (SELECT
            |    LEAST(CAST(FLOOR(pr * 5) AS BIGINT) + 1, 5) AS r_score,
            |    LEAST(CAST(FLOOR(pf * 5) AS BIGINT) + 1, 5) AS f_score,
            |    LEAST(CAST(FLOOR(pm * 5) AS BIGINT) + 1, 5) AS m_score
            |  FROM p)
            |SELECT r_score, f_score, m_score, COUNT(*) AS n_users
            |FROM s GROUP BY 1, 2, 3""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).select(
        col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"),
        col("value"))
      val u = e.groupBy("user_id").agg(
        max("es").as("last_es"),
        count(lit(1)).as("freq"),
        DetAgg.dsum(col("value")).as("mon"))
      // r15: FLAT composition — a score is a pure function of the metric
      // VALUE, so each dimension contributes a distinct-value→score
      // relation ([[Stats.percentRankValues]]) joined to `u` once. The
      // previous chained form (percentRank over the output of the prior
      // percentRank) re-expanded the user aggregate inside every consumer
      // of every downstream kernel drive — exponentially many copies of
      // the events scan in the plan. Ranks are identical: the chain's
      // stages were 1:1 joins, so every stage ranked the same multiset.
      def scoreRel(c: String, a: String) =
        graft.functions.Stats.percentRankValues(u, c)
          .select(
            col("__v").as(s"__v_$a"),
            least(floor(col("pct_rank") * 5).cast(LongType) + 1, lit(5L)).as(a))
      // LEFT join on a null-safe key (r16, verdict item): the metric
      // columns here (max/count/dsum over the user's events) cannot be
      // NULL, so this is bit-identical today — but an inner value-equality
      // join would silently DROP a null-metric user where the old chained
      // window form ranked it; the null-safe left join removes that trap
      // for free (same broadcast join, one extra null branch in the key)
      Seq("last_es" -> "r_score", "freq" -> "f_score", "mon" -> "m_score")
        .foldLeft(u) { case (acc, (c, a)) =>
          acc.join(scoreRel(c, a), col(c).cast("double") <=> col(s"__v_$a"), "left")
        }
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_users"))
    })

  /** Daily new-user and cumulative-unique-user curve — the growth-
    * accounting primitive (a running COUNT(DISTINCT) without ever
    * running one): first-seen day per user from one hash aggregate, then
    * a cumulative sum over the CALENDAR-BOUNDED day series (the
    * [[statAutocorr]] discipline — the prefix window's relation is one
    * row per day, not per event). Exact integers end to end.
    */
  val e15CumulativeUsers: Q = Q(
    "e15_cumulative_users",
    Some("""WITH e AS (SELECT user_id,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           |  FROM events),
           |f AS (SELECT user_id, MIN(es) AS fes FROM e GROUP BY 1),
           |d AS (SELECT fes // 86400 AS day,
           |    CAST(COUNT(*) AS BIGINT) AS new_users
           |  FROM f GROUP BY 1)
           |SELECT day, new_users,
           |  CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           |    AS BIGINT) AS cum_users
           |FROM d""".stripMargin),
    (s, dir) => {
      val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("day"))
      val wCum = Window.partitionBy(spk).orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      ev(s, dir)
        .select(
          col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("es"))
        .groupBy("user_id").agg(min("es").as("fes"))
        .groupBy(expr("fes div 86400").as("day"))
        .agg(count(lit(1)).as("new_users"))
        .select(
          col("day"), col("new_users"),
          sum("new_users").over(wCum).cast(LongType).as("cum_users"))
    })

  /** Holt linear-trend smoothing (double exponential, α = β = ½) of the
    * hourly event-count series, as a TRUNCATED 20-lag linear filter —
    * the [[tsEwma]] discipline extended to a two-state recursion: the
    * level/trend impulse responses are computed once driver-side (pure
    * halving arithmetic), QUANTIZED to the 2⁻²⁴ dyadic grid, and
    * embedded as a 20-row literal weight grid, so every x·w product and
    * the 20-term sum are EXACT dyadic doubles for counts below 2²⁹ —
    * order-independent in any engine, hash-exact unrounded. Only
    * full-history buckets emit (the seasonal-decompose full-window
    * contract); truncation and init-free startup are the documented
    * trade for exact portability.
    */
  val tsHoltLinear: Q = {
    val L = 20
    val (wl, wb) = {
      val wlA = new Array[Double](L); val wbA = new Array[Double](L)
      var l = 0.5; var b = 0.25 // impulse response at lag 0
      wlA(0) = l; wbA(0) = b
      for (t <- 1 until L) {
        val lPrev = l
        l = 0.5 * (l + b)
        b = 0.5 * (l - lPrev) + 0.5 * b
        wlA(t) = l; wbA(t) = b
      }
      val q = (1 << 24).toDouble
      (wlA.map(w => math.rint(w * q) / q), wbA.map(w => math.rint(w * q) / q))
    }
    def dl(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    val gridSql = (0 until L)
      .map(j => s"($j, ${dl(wl(j))}, ${dl(wb(j))})").mkString(",\n      ")
    Q(
      "ts_holt_linear",
      Some(s"""WITH b0 AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM events GROUP BY 1),
              |r AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b0),
              |b AS (SELECT g.bucket, COALESCE(b0.n, 0) AS n
              |  FROM (SELECT UNNEST(generate_series(lo, hi)) AS bucket FROM r) g
              |  LEFT JOIN b0 USING (bucket)),
              |grid AS (SELECT * FROM (VALUES
              |      $gridSql) AS t(j, wl, wb)),
              |p AS (SELECT a.bucket, grid.wl, grid.wb, c.n
              |  FROM b a CROSS JOIN grid JOIN b c ON c.bucket = a.bucket - grid.j),
              |o AS (SELECT bucket, COUNT(*) AS nl,
              |    SUM(wl * n) AS level, SUM(wb * n) AS trend
              |  FROM p GROUP BY 1)
              |SELECT bucket, level, trend, level + trend AS forecast
              |FROM o WHERE nl = $L""".stripMargin),
      (s, dir) => {
        // densified series: a missing hour is a ZERO-count hour, not
        // missing data — the calendar-bounded sequence explode is the
        // e8_resample discipline
        val b0 = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("n0"))
        val b = b0.agg(min("bucket").as("lo"), max("bucket").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("bucket"))
          .join(b0, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("n0"), lit(0L)).as("n"))
        val grid = {
          import s.implicits._
          (0 until L).map(j => (j.toLong, wl(j), wb(j))).toDF("j", "wl", "wb")
        }
        val other = b.select(col("bucket").as("bucket2"), col("n"))
        b.select("bucket").crossJoin(broadcast(grid))
          .join(other, col("bucket2") === col("bucket") - col("j"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("nl"),
            sum(col("wl") * col("n")).as("level"),
            sum(col("wb") * col("n")).as("trend"))
          .filter(col("nl") === L)
          .select(
            col("bucket"), col("level"), col("trend"),
            (col("level") + col("trend")).as("forecast"))
      })
  }

  /** Time-to-convert distribution: for every click with a same-user
    * purchase within the next 300 s, the delay to the NEAREST such
    * purchase, summarized at exact p50/p90/p99 — the latency curve a
    * conversion funnel is tuned against. Composes two verified kernels:
    * the one-sided bucketed band join (the [[e12BandJoin]] discipline —
    * probe rows explode to their two covering 300 s buckets, build rows
    * own one, so the equi-join + refine can't duplicate a pair) and the
    * sharded exact-quantile kernel
    * ([[graft.functions.Stats.exactQuantiles]] — no global sort). The
    * per-click nearest is a plain MIN aggregate, not a window. Exact
    * integer seconds end to end — hash-exact.
    */
  val e16TimeToConvert: Q = Q(
    "e16_time_to_convert",
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           |  FROM events),
           |l AS (SELECT user_id, event_id AS click_id, es AS tl
           |  FROM e WHERE event_type = 'click'),
           |r AS (SELECT user_id, es AS tr
           |  FROM e WHERE event_type = 'purchase'),
           |d AS (SELECT click_id, MIN(tr - tl) AS dt
           |  FROM l JOIN r ON l.user_id = r.user_id
           |    AND tr >= tl AND tr - tl <= 300
           |  GROUP BY click_id),
           |g AS (SELECT CAST(dt AS DOUBLE) AS v, COUNT(*) AS c FROM d GROUP BY 1),
           |c AS (SELECT v,
           |    SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS r,
           |    SUM(c) OVER () AS n
           |  FROM g),
           |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
           |SELECT q, MIN(v) AS qv
           |FROM c CROSS JOIN qs
           |WHERE r >= CAST(CEIL(q * n) AS BIGINT)
           |GROUP BY q""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"))
      val l = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("es").as("tl"))
        .withColumn("pb",
          explode(array(
            floor(col("tl") / 300).cast(LongType),
            floor(col("tl") / 300).cast(LongType) + 1)))
      val r = e.filter(col("event_type") === "purchase")
        .select(
          col("user_id").as("ur"), col("es").as("tr"),
          floor(col("es") / 300).cast(LongType).as("br"))
      val d = l
        .join(r, col("user_id") === col("ur") && col("pb") === col("br"))
        .filter(col("tr") >= col("tl") && col("tr") - col("tl") <= 300)
        .groupBy("click_id")
        .agg(min(col("tr") - col("tl")).as("dt"))
      graft.functions.Stats.exactQuantiles(d, "dt", Seq(0.5, 0.9, 0.99))
    })

  /** Benjamini–Hochberg FDR correction over the [[statPoissonRate]]
    * family — the multiple-comparisons layer every per-category test
    * battery needs before alerting (five rate tests at α = 0.05 fire a
    * false alarm 23 % of the time uncorrected). p-values come from the
    * shared Abramowitz–Stegun Φ text (p = 2·(1 − Φ(|z|)), round-6 — the
    * transcendental tail discipline); the rank and the step-up cut run
    * on the BOUNDED per-category relation (one deliberately-single
    * window over ≤ #event-types rows + a broadcast max). Rejection at
    * FDR 0.05 — hash-exact.
    */
  val statFdrBh: Q = {
    val phi = graft.fit.ClosedForm.normalCdfText("ABS(z)")
    Q(
      "stat_fdr_bh",
      Some(s"""$poissonRateSqlCtes,
              |p AS (SELECT event_type, z,
              |    ROUND(2.0 * (1.0 - $phi), 6) AS p_value FROM z0),
              |rk AS (SELECT event_type, z, p_value,
              |    ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS rnk,
              |    COUNT(*) OVER () AS m FROM p),
              |mx AS (SELECT COALESCE(MAX(CASE WHEN p_value <= 0.05 * rnk / m
              |    THEN rnk END), 0) AS kmax FROM rk)
              |SELECT event_type, z, p_value, CAST(rnk AS BIGINT) AS rnk,
              |  rnk <= kmax AS rejected
              |FROM rk CROSS JOIN mx""".stripMargin),
      (s, dir) => {
        val z0 = poissonRateZ(s, dir).select("event_type", "z")
        val p = z0.select(
          col("event_type"), col("z"),
          round(lit(2.0) * (lit(1.0) - expr(phi)), 6).as("p_value"))
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("p_value"))
        val wRank = Window.partitionBy(spk).orderBy(col("p_value"), col("event_type"))
        val ranked = p
          .withColumn("rnk", row_number().over(wRank).cast(LongType))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("m"))))
        val mx = ranked.agg(coalesce(
          max(when(col("p_value") <= lit(0.05) * col("rnk") / col("m"),
            col("rnk"))), lit(0L)).as("kmax"))
        ranked.crossJoin(broadcast(mx))
          .select(
            col("event_type"), col("z"), col("p_value"), col("rnk"),
            (col("rnk") <= col("kmax")).as("rejected"))
      })
  }

  /** Benjamini–Yekutieli FDR correction — [[statFdrBh]]'s
    * dependence-robust sibling (BH assumes independent or positively
    * correlated tests; per-type rate tests share the corpus midpoint,
    * so the conservative c(m) = Σ 1/i harmonic inflation is the honest
    * default). Shares the Poisson-rate CTE and Φ text with BH; the
    * harmonic constant is computed from the ranked relation itself
    * (rnk spans 1..m exactly once) as an exact-decimal sum of round-6
    * reciprocals — order-free, so no float fold ordering can diverge.
    */
  val statFdrBy: Q = {
    val phi = graft.fit.ClosedForm.normalCdfText("ABS(z)")
    Q(
      "stat_fdr_by",
      Some(s"""$poissonRateSqlCtes,
              |p AS (SELECT event_type, z,
              |    ROUND(2.0 * (1.0 - $phi), 6) AS p_value FROM z0),
              |rk AS (SELECT event_type, z, p_value,
              |    ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS rnk,
              |    COUNT(*) OVER () AS m FROM p),
              |h AS (SELECT ${D.dsum("ROUND(1.0 / CAST(rnk AS DOUBLE), 6)")}
              |    AS c_m FROM rk),
              |mx AS (SELECT COALESCE(MAX(CASE
              |    WHEN p_value <= CAST(0.05 AS DOUBLE) * rnk / m / c_m
              |    THEN rnk END), 0) AS kmax FROM rk CROSS JOIN h)
              |SELECT event_type, z, p_value, CAST(rnk AS BIGINT) AS rnk,
              |  ROUND(c_m, 6) AS c_m, rnk <= kmax AS rejected
              |FROM rk CROSS JOIN h CROSS JOIN mx""".stripMargin),
      (s, dir) => {
        val z0 = poissonRateZ(s, dir).select("event_type", "z")
        val p = z0.select(
          col("event_type"), col("z"),
          round(lit(2.0) * (lit(1.0) - expr(phi)), 6).as("p_value"))
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("p_value"))
        val wRank = Window.partitionBy(spk).orderBy(col("p_value"), col("event_type"))
        val ranked = p
          .withColumn("rnk", row_number().over(wRank).cast(LongType))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("m"))))
        val h = ranked.agg(DetAgg.dsum(
          round(lit(1.0) / col("rnk").cast("double"), 6)).as("c_m"))
        val withH = ranked.crossJoin(broadcast(h))
        val mx = withH.agg(coalesce(
          max(when(
            col("p_value") <=
              lit(0.05) * col("rnk") / col("m") / col("c_m"),
            col("rnk"))), lit(0L)).as("kmax"))
        withH.crossJoin(broadcast(mx))
          .select(
            col("event_type"), col("z"), col("p_value"), col("rnk"),
            round(col("c_m"), 6).as("c_m"),
            (col("rnk") <= col("kmax")).as("rejected"))
      })
  }

  /** Page–Hinkley sequential drift detector over the hourly
    * event-count series — the CUSUM-family "did the mean shift"
    * monitor with a per-step alarm trail ([[statCusum]] localizes the
    * argmax; PH is the standard streaming formulation with a running
    * mean and a drift allowance δ): mₜ = Σᵢ≤ₜ (xᵢ − x̄ᵢ − δ) with x̄ᵢ
    * the running mean of the first i values, PHₜ = mₜ − min_{s≤t} mₛ,
    * alarm when PHₜ > λ. The running mean is exact-integer cumsum / i
    * (one IEEE division per row); per-step terms are round-6 and the
    * cumulative/min windows run in bucket order over the
    * time-span-bounded relation ([[graft.plans.ScalarExpressions
    * .singlePartitionKey]] contract) — both engines fold identical
    * doubles in the same order. Hash-exact.
    */
  val statPageHinkley: Q = {
    val delta = "CAST(1.0 AS DOUBLE)"
    val lambda = "CAST(50.0 AS DOUBLE)"
    Q(
      "stat_page_hinkley",
      Some(s"""WITH b AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS x
              |  FROM events GROUP BY 1),
              |c AS (SELECT bucket, x,
              |    CAST(SUM(x) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              |      AS BIGINT) AS cs,
              |    ROW_NUMBER() OVER (ORDER BY bucket) AS i
              |  FROM b),
              |t AS (SELECT bucket, x,
              |    ROUND(CAST(x AS DOUBLE) - CAST(cs AS DOUBLE) / i - $delta, 6)
              |      AS term
              |  FROM c),
              |m AS (SELECT bucket, x,
              |    SUM(term) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS mt
              |  FROM t)
              |SELECT bucket, x AS n_events, ROUND(mt, 6) AS m_t,
              |  ROUND(mt - MIN(mt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING),
              |    6) AS ph,
              |  mt - MIN(mt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              |    > $lambda AS alarm
              |FROM m ORDER BY bucket""".stripMargin),
      (s, dir) => {
        val b = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("x"))
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("bucket"))
        val wCum = Window.partitionBy(spk).orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0)
        val t = b
          .withColumn("cs", sum("x").over(wCum))
          .withColumn("i", row_number().over(
            Window.partitionBy(spk).orderBy("bucket")).cast(LongType))
          .withColumn("term",
            round(col("x").cast("double")
              - col("cs").cast("double") / col("i") - expr(delta), 6))
        t.withColumn("mt", sum("term").over(wCum))
          .withColumn("mn", min("mt").over(wCum))
          .select(
            col("bucket"), col("x").as("n_events"),
            round(col("mt"), 6).as("m_t"),
            round(col("mt") - col("mn"), 6).as("ph"),
            (col("mt") - col("mn") > expr(lambda)).as("alarm"))
          .orderBy("bucket")
      })
  }

  /** Ljung–Box portmanteau test over the first three autocorrelations —
    * the ONE-NUMBER "is this series white noise" gate on top of
    * [[statAutocorr]]'s per-lag values (three r's invite three ad-hoc
    * judgments; Q = n(n+2)·Σ rₖ²/(n−k) is the calibrated joint test).
    * Shares the autocorr CTE text verbatim; the 3-term fold is a FIXED
    * conditional chain (the anova discipline — no order-dependent sum),
    * series length is an exact count — hash-exact unrounded.
    */
  val statLjungBox: Q = {
    val acTree = "(n * sxy - sx * sy)" +
      " / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))"
    val fold = (1 to 3)
      .map(k => s"MAX(CASE WHEN lag = $k THEN ac * ac / (nb - $k.0) END)")
      .mkString("(", " + ", ")")
    Q(
      "stat_ljung_box",
      Some(s"""$autocorrSqlCtes,
              |nb0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nb FROM b),
              |r AS (SELECT lag, $acTree AS ac FROM g)
              |SELECT CAST(nb AS BIGINT) AS n_buckets, CAST(3 AS BIGINT) AS df,
              |  nb * (nb + 2.0) * $fold AS ljung_box_q
              |FROM r CROSS JOIN nb0 GROUP BY nb""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d18 = DecimalType(18, 0)
        val b = ev(s, dir)
          .withColumn("bucket", floor(unix_timestamp(col("ts")) / 300).cast(LongType))
          .groupBy("bucket")
          .agg((sum(DetAgg.dec(col("value"))) * 1000000).cast(LongType).as("x"))
        val nb0 = b.agg(count(lit(1)).cast("double").as("nb"))
        val lagged = b
          .withColumn("lag", explode(array(lit(1L), lit(2L), lit(3L))))
          .select(col("bucket"), col("lag"), col("x"))
        val other = b.select(col("bucket").as("bucket2"), col("x").as("y"))
        val g = lagged
          .join(other, lagged("bucket") + lagged("lag") === other("bucket2"))
          .groupBy("lag")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum(col("x").cast(d18) * col("y").cast(d18)).cast("double").as("sxy"),
            sum(col("x").cast(d18) * col("x").cast(d18)).cast("double").as("sxx"),
            sum(col("y").cast(d18) * col("y").cast(d18)).cast("double").as("syy"))
        g.select(col("lag"), expr(acTree).as("ac"))
          .crossJoin(broadcast(nb0))
          .groupBy(col("nb"))
          .agg(expr(s"nb * (nb + 2.0) * $fold").as("ljung_box_q"))
          .select(
            col("nb").cast(LongType).as("n_buckets"),
            lit(3L).as("df"), col("ljung_box_q"))
      })
  }

  /** Symmetric band join: every (click, purchase) pair of the SAME user
    * within ±120 s — the attribution-window join (its asymmetric cousin
    * [[e4AsOf]] keeps only the nearest; this keeps ALL candidates, the
    * input a position-bidding or multi-touch model needs). The
    * no-equi-key `|t_a − t_b| ≤ δ` predicate would plan as a
    * BroadcastNestedLoop; instead each probe row explodes to its three
    * covering δ-buckets and the join is EQUI on (user, bucket) + a
    * row-local refine — the [[e10IntervalJoin]] discipline. A build row
    * owns exactly ONE bucket, so no pair can match twice: no dedup
    * needed. Integer second arithmetic end to end — hash-exact with no
    * tolerance.
    */
  val e12BandJoin: Q = Q(
    "e12_band_join",
    Some("""WITH e AS (SELECT user_id, event_id, event_type,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           |  FROM events),
           |l AS (SELECT user_id, event_id AS click_id, es AS tl
           |  FROM e WHERE event_type = 'click'),
           |r AS (SELECT user_id, event_id AS purchase_id, es AS tr
           |  FROM e WHERE event_type = 'purchase')
           |SELECT l.user_id, click_id, purchase_id, tr - tl AS dt_s
           |FROM l JOIN r ON l.user_id = r.user_id
           |  AND ABS(tl - tr) <= 120""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"))
      val l = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("es").as("tl"))
      val r = e.filter(col("event_type") === "purchase")
        .select(
          col("user_id").as("ur"), col("event_id").as("purchase_id"),
          col("es").as("tr"), floor(col("es") / 120).cast(LongType).as("br"))
      val probe = l.withColumn("pb",
        explode(array(
          floor(col("tl") / 120).cast(LongType) - 1,
          floor(col("tl") / 120).cast(LongType),
          floor(col("tl") / 120).cast(LongType) + 1)))
      probe
        .join(r, col("user_id") === col("ur") && col("pb") === col("br"))
        .filter(abs(col("tl") - col("tr")) <= 120)
        .select(
          col("user_id"), col("click_id"), col("purchase_id"),
          (col("tr") - col("tl")).as("dt_s"))
    })

  /** Exponentially weighted moving average of the hourly event-value
    * series — the smoothed health metric a monitoring dashboard tracks
    * next to [[statAutocorr]] (same bucketed-series family) and the
    * CUSUM change detector. α = ½ with the `adjust=True` normalization,
    * TRUNCATED at 20 lags (weights beyond 2⁻²⁰ are below one part in a
    * million — the documented contract, not an approximation of some
    * other definition): `ewma_t = Σ_j x_{t−j}·2^(19−j) / Σ_j 2^(19−j)`
    * over the lags present in the series, so leading buckets and gaps
    * normalize by the weights actually observed.
    *
    * WINDOWLESS by construction: the bounded 20-row lag grid is a
    * broadcast literal (the [[statAutocorr]] shape), contributions come
    * from an equi-join on `bucket − j` (no range join, no BNL), and both
    * the numerator and denominator are exact BIGINT sums of micro-unit
    * integers — the only float op is the final division. Headroom: with
    * 2^19 max weight × 20 terms the hourly micro-sum may reach ~8.8e11
    * (≈ 880 k value-units/hour) before the BIGINT bound; past that,
    * route the products through DECIMAL(38,0) exactly like DetAgg.
    */
  val tsEwma: Q = {
    val grid = (0 until 20).map(j => (j.toLong, 1L << (19 - j)))
    Q(
      "ts_ewma",
      Some(s"""WITH b AS (
              |  SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(SUM(CAST(value AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS x
              |  FROM events GROUP BY 1),
              |g AS (SELECT * FROM (VALUES
              |    ${grid.map { case (j, w) => s"($j, $w)" }.mkString(", ")})
              |  AS g(j, w)),
              |p AS (SELECT t.bucket, t.x, c.x AS cx, g.w
              |  FROM b t CROSS JOIN g JOIN b c ON c.bucket = t.bucket - g.j)
              |SELECT bucket, x,
              |  CAST(SUM(cx * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS ewma
              |FROM p GROUP BY bucket, x""".stripMargin),
      (s, dir) =>
        graft.functions.Stats.ewmaTrunc(
          ev(s, dir)
            .withColumn("bucket", floor(unix_timestamp(col("ts")) / 3600).cast(LongType))
            .groupBy("bucket")
            .agg((sum(DetAgg.dec(col("value"))) * 1000000).cast(LongType).as("x")),
          "bucket", "x", lags = 20))
  }

  /** Additive seasonal decomposition of the hourly event-value series —
    * the classic `x = trend + seasonal + resid` split (daily period 24)
    * a capacity dashboard runs before alarming on raw deviations.
    * Simplified one-pass contract (full STL iterates; this is its
    * standard first pass): `trend` = centered 25-term moving average,
    * emitted ONLY where the full ±12 window is present (else null);
    * `seasonal` = hour-of-day mean minus grand mean; `resid` = the
    * leftover where trend is defined.
    *
    * WINDOWLESS: the ±12 grid is a broadcast literal equi-joined on
    * `bucket + j` (the [[tsEwma]] shape), the 24-row seasonal and 1-row
    * grand-mean relations broadcast, and every mean is an exact-BIGINT
    * micro-unit sum with ONE division (no decimal needed below 2⁵³
    * micro-units; past that the [[DetAgg]] route applies) — so the
    * whole decomposition is a fixed IEEE tree over exact integers,
    * hash-exact unrounded.
    */
  val tsSeasonalDecompose: Q = Q(
    "ts_seasonal_decompose",
    Some(s"""WITH b AS (
            |  SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
            |    CAST(SUM(CAST(value AS DECIMAL(30,6))) * 1000000 AS BIGINT) AS x
            |  FROM events GROUP BY 1),
            |gm AS (SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS g FROM b),
            |se AS (SELECT bucket % 24 AS hod,
            |    CAST(SUM(x) AS DOUBLE) / COUNT(*) AS hm
            |  FROM b GROUP BY 1),
            |gr AS (SELECT * FROM (VALUES
            |    ${(-12 to 12).map(j => s"($j)").mkString(", ")}) AS gr(j)),
            |tr AS (SELECT t.bucket AS tb,
            |    CASE WHEN COUNT(*) = 25
            |      THEN CAST(SUM(c.x) AS DOUBLE) / 25.0 END AS trend
            |  FROM b t CROSS JOIN gr JOIN b c ON c.bucket = t.bucket + gr.j
            |  GROUP BY t.bucket)
            |SELECT b.bucket, b.bucket % 24 AS hod, b.x,
            |  se.hm - gm.g AS seasonal, tr.trend,
            |  CAST(b.x AS DOUBLE) - tr.trend - (se.hm - gm.g) AS resid
            |FROM b JOIN se ON se.hod = b.bucket % 24
            |  JOIN tr ON tr.tb = b.bucket
            |  CROSS JOIN gm""".stripMargin),
    (s, dir) => {
      import s.implicits._
      val b = ev(s, dir)
        .withColumn("bucket", floor(unix_timestamp(col("ts")) / 3600).cast(LongType))
        .groupBy("bucket")
        .agg((sum(DetAgg.dec(col("value"))) * 1000000).cast(LongType).as("x"))
      val gm = b.agg((sum("x").cast("double") / count(lit(1))).as("g"))
      val se = b.groupBy((col("bucket") % 24).as("hod"))
        .agg((sum("x").cast("double") / count(lit(1))).as("hm"))
      val gr = (-12L to 12L).toDF("j")
      val tr = b.select(col("bucket").as("tb"))
        .crossJoin(broadcast(gr))
        .join(b.select(col("bucket").as("cb"), col("x").as("cx")),
          col("cb") === col("tb") + col("j"))
        .groupBy("tb")
        .agg(when(count(lit(1)) === 25, sum("cx").cast("double") / lit(25.0))
          .as("trend"))
      b.withColumn("hod", col("bucket") % 24)
        .join(broadcast(se), "hod")
        .join(tr, col("bucket") === col("tb"))
        .crossJoin(broadcast(gm))
        .select(
          col("bucket"), col("hod"), col("x"),
          (col("hm") - col("g")).as("seasonal"),
          col("trend"),
          (col("x").cast("double") - col("trend") - (col("hm") - col("g")))
            .as("resid"))
    })

  /** First-order Markov transition matrix of per-user event-type
    * sequences — the behavioral fingerprint (what follows a `view`? how
    * often does `error` self-loop?). One `lead` window per user (state
    * bounded by events-per-user, the sessionize discipline), then a hash
    * aggregate to the ≤ |types|² transition relation and a conditional
    * probability against broadcast from-state totals — the division is
    * one IEEE op on exact integer counts.
    */
  val e11Markov: Q = Q(
    "e11_markov_transitions",
    Some("""WITH t AS (SELECT user_id, event_type,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY date_trunc('second', ts), event_id) AS next_type
           |  FROM events),
           |c AS (SELECT event_type, next_type, COUNT(*) AS n
           |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
           |f AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY 1)
           |SELECT c.event_type, c.next_type, c.n,
           |  CAST(c.n AS DOUBLE) / f.tot AS p
           |FROM c JOIN f ON c.event_type = f.event_type""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(date_trunc("second", col("ts")), col("event_id"))
      val t = ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
      val c = t.groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
      val f = c.groupBy(col("event_type").as("__from"))
        .agg(sum("n").as("tot"))
      c.join(broadcast(f), col("event_type") === col("__from"))
        .select(col("event_type"), col("next_type"), col("n"),
          (col("n").cast("double") / col("tot")).as("p"))
    })

  /** Gaps-and-islands: longest consecutive-day activity streak per user,
    * reported as the bounded streak-length census — the engagement
    * metric behind every "7-day streak" badge, and the canonical SQL
    * island idiom (`day − row_number` is constant exactly within a
    * consecutive run). The per-user window is bounded by active days ≤
    * calendar span (the [[statAutocorr]] regime, keyed per user — never
    * corpus-wide). Exact integers end to end — hash-exact.
    */
  val e17UserStreaks: Q = Q(
    "e17_user_streaks",
    Some("""WITH d AS (SELECT DISTINCT user_id,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
           |  FROM events),
           |r AS (SELECT user_id, day,
           |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
           |      AS island
           |  FROM d),
           |s AS (SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
           |  FROM r GROUP BY 1, 2),
           |m AS (SELECT user_id, MAX(len) AS max_streak FROM s GROUP BY 1)
           |SELECT max_streak, COUNT(*) AS n_users FROM m GROUP BY 1""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("day")
      ev(s, dir)
        .select(
          col("user_id"),
          // `div` (floor toward −∞ on the integer route via Spark's
          // integral division), matching the oracle's `// 86400` — a
          // double-divide-then-truncate would round toward zero and
          // diverge on pre-1970 (negative-epoch) timestamps (e15/e16
          // already use div; this keeps the sibling family consistent)
          expr("unix_timestamp(date_trunc('second', ts)) div 86400")
            .cast(LongType).as("day"))
        .distinct()
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy("user_id", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("max_streak"))
        .groupBy("max_streak")
        .agg(count(lit(1)).as("n_users"))
    })

  /** Stationary distribution of the [[e11Markov]] transition chain — the
    * long-run event mix the empirical transition matrix implies (a
    * forecast the raw frequency mix cannot give when the chain is far
    * from equilibrium). Integer pico-unit power iteration, the
    * [[graft.operators.PageRank]] portability discipline applied to a
    * BOUNDED chain: every relation is ≤ #event-types² rows, transitions
    * are `π(i)·c_ij div tot_i` (64-bit integer division only), states
    * with no outgoing transitions redistribute uniformly (the dangling
    * path), and the oracle replays all 12 rounds through MATERIALIZED
    * CTEs — hash-exact.
    */
  val e18MarkovStationary: Q = {
    val iters = 12
    val scale = 1000000000000L
    val its = (1 to iters).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT c.next_type AS state, SUM(p.pi * c.q // 1048576) AS contrib
         |  FROM c JOIN p${i - 1} p ON c.event_type = p.state GROUP BY 1),
         |d$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(p.pi), 0) AS dang
         |  FROM p${i - 1} p LEFT JOIN f ON f.event_type = p.state
         |  WHERE f.event_type IS NULL),
         |p$i AS MATERIALIZED (
         |  SELECT states.state,
         |    CAST(COALESCE(contrib, 0) + dang // ns AS BIGINT) AS pi
         |  FROM states CROSS JOIN n CROSS JOIN d$i
         |  LEFT JOIN s$i ON s$i.state = states.state)""".stripMargin
    }.mkString(",\n")
    Q(
      "e18_markov_stationary",
      Some(s"""WITH t AS (SELECT user_id, event_type,
              |    lead(event_type) OVER (PARTITION BY user_id
              |      ORDER BY date_trunc('second', ts), event_id) AS next_type
              |  FROM events),
              |c0 AS (SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
              |f AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
              |  FROM c0 GROUP BY 1),
              |c AS (SELECT c0.event_type, c0.next_type,
              |    c0.n * 1048576 // f.tot AS q
              |  FROM c0 JOIN f ON c0.event_type = f.event_type),
              |states AS (SELECT DISTINCT event_type AS state FROM c0
              |  UNION SELECT DISTINCT next_type FROM c0),
              |n AS (SELECT COUNT(*) AS ns FROM states),
              |p0 AS MATERIALIZED (SELECT state, $scale // ns AS pi
              |  FROM states CROSS JOIN n),
              |$its
              |SELECT state AS event_type, pi FROM p$iters""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(date_trunc("second", col("ts")), col("event_id"))
        val t = ev(s, dir)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
        // the returned plan is rooted only in the final "p" checkpoint
        graft.operators.CheckpointScope.using("p") { scope =>
        val c0 = scope.mat(
          t.groupBy("event_type", "next_type").agg(count(lit(1)).as("n")))
        val f = c0.groupBy(col("event_type").as("__from")).agg(sum("n").as("tot"))
        // transition probabilities quantized to 2^20 fixed-point so the
        // per-edge product pi·q stays under 2^63 at ANY corpus count
        // (pi ≤ Scale = 1e12, q ≤ 2^20 → ≤ 1.1e18; the naive pi·n/tot
        // overflows once row counts pass ~9e6 against pico-unit mass)
        val c = scope.mat(c0.join(f, col("event_type") === col("__from"))
          .select(col("event_type"), col("next_type"),
            expr("n * 1048576L div tot").as("q")))
        val states = scope.mat(c0.select(col("event_type").as("state"))
          .union(c0.select(col("next_type").as("state"))).distinct())
        // state count collected ONCE as a literal (the per-round
        // crossJoin(broadcast(n)) re-counted it every iteration), and
        // the iteration-invariant no-out-transition probe relation
        // materialized ONCE (it was a lazy distinct re-executed — one
        // exchange — per round)
        val ns = states.count()
        val fOut = scope.mat(c.select(col("event_type").as("__out")).distinct())
        if (ns == 0L) {
          // no transitions at all: empty result, no "p" channel survives
          s.range(0).select(
            col("id").cast("string").as("event_type"), col("id").as("pi"))
        } else {
        var p: org.apache.spark.sql.DataFrame = scope.roll("p",
          states.select(col("state"), lit(scale / ns).as("pi")))
        for (_ <- 1 to iters) {
          val contrib = c.join(p, c("event_type") === p("state"))
            .select(col("next_type"), expr("pi * q div 1048576L").as("__c"))
            .groupBy("next_type").agg(sum("__c").as("contrib"))
          val dang = p.join(fOut, p("state") === fOut("__out"), "left_anti")
            .agg(coalesce(sum("pi"), lit(0L)).as("dang"))
          p = scope.roll("p",
            states.crossJoin(broadcast(dang))
              .join(contrib, states("state") === contrib("next_type"), "left")
              .select(
                col("state"),
                (coalesce(col("contrib"), lit(0L))
                  + expr(s"dang div ${ns}L")).cast(LongType).as("pi")))
        }
        p.select(col("state").as("event_type"), col("pi"))
        }
        }
      })
  }

  /** Rolling 24-hour OLS slope of the hourly event-count series — the
    * trend detector behind "traffic is ramping" alerts ([[tsEwma]]
    * smooths; this reports the RATE, in events/hour², with the window's
    * time axis as the regressor). The window is the EWMA lag-grid
    * discipline: a 24-row literal lag explode + equi-join on
    * `bucket − j`, full windows only; Σx and Σ(j·x) are exact BIGINTs
    * and the j-moments are compile-time literals, so the slope is ONE
    * IEEE division of exact integers — hash-exact unrounded.
    */
  val tsRollingSlope: Q = {
    val w = 24
    val sj = (0 until w).sum // Σj
    val sjj = (0 until w).map(j => j * j).sum // Σj²
    val den = w * sjj - sj * sj
    Q(
      "ts_rolling_slope",
      Some(s"""WITH b0 AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM events GROUP BY 1),
              |r AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b0),
              |b AS (SELECT g.bucket, COALESCE(b0.n, 0) AS n
              |  FROM (SELECT UNNEST(generate_series(lo, hi)) AS bucket FROM r) g
              |  LEFT JOIN b0 USING (bucket)),
              |grid AS (SELECT unnest(generate_series(0, ${w - 1})) AS j),
              |p AS (SELECT a.bucket, grid.j, c.n
              |  FROM b a CROSS JOIN grid JOIN b c ON c.bucket = a.bucket - grid.j),
              |o AS (SELECT bucket, COUNT(*) AS nl,
              |    CAST(SUM(n) AS BIGINT) AS sx, CAST(SUM(j * n) AS BIGINT) AS sjx
              |  FROM p GROUP BY 1)
              |SELECT bucket, sx AS window_events,
              |  -(CAST($w AS DOUBLE) * sjx - $sj.0 * sx) / $den.0 AS slope
              |FROM o WHERE nl = $w""".stripMargin),
      (s, dir) => {
        // densified series — a missing hour is a zero-count hour (the
        // ts_holt_linear / e8_resample discipline)
        val b0 = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("n0"))
        val b = b0.agg(min("bucket").as("lo"), max("bucket").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("bucket"))
          .join(b0, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("n0"), lit(0L)).as("n"))
        val grid = b.sparkSession.range(0, w).select(col("id").as("j"))
        val other = b.select(col("bucket").as("bucket2"), col("n"))
        b.select("bucket").crossJoin(broadcast(grid))
          .join(other, col("bucket2") === col("bucket") - col("j"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("nl"),
            sum("n").cast(LongType).as("sx"),
            sum(col("j") * col("n")).cast(LongType).as("sjx"))
          .filter(col("nl") === w)
          .select(
            col("bucket"), col("sx").as("window_events"),
            (-(lit(w.toDouble) * col("sjx") - lit(sj.toDouble) * col("sx"))
              / lit(den.toDouble)).as("slope"))
      })
  }

  /** One-sample KS of the inter-arrival times against the fitted
    * exponential ([[graft.functions.Stats.ks1Exp]]) — the
    * Poisson-process gate: if per-user gaps are memoryless, the rate
    * monitors' null models hold; a heavy D means bursts or schedules.
    * Deltas come from the per-user lead window (bounded by user
    * activity), are exact integer seconds, and feed the sharded ECDF
    * kernel; the CDF's one EXP carries the round-6 tail — hash-exact.
    */
  val statKsExp: Q = Q(
    "stat_ks_exp",
    Some("""WITH e AS (SELECT user_id,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
           |    event_id
           |  FROM events),
           |d0 AS (SELECT user_id, es, lead(es) OVER (PARTITION BY user_id
           |    ORDER BY es, event_id) AS nxt FROM e),
           |s AS (SELECT CAST(nxt - es AS DOUBLE) AS v, nxt - es AS l
           |  FROM d0 WHERE nxt IS NOT NULL),
           |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(l) AS DOUBLE) / COUNT(*) AS mean FROM s),
           |g AS (SELECT v, COUNT(*) AS c FROM s GROUP BY v),
           |c AS (SELECT v, c,
           |    SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM g)
           |SELECT m.n, m.mean,
           |  ROUND(MAX(GREATEST(
           |    CAST(cum AS DOUBLE) / m.n - (1.0 - EXP(-(v / m.mean))),
           |    (1.0 - EXP(-(v / m.mean))) - CAST(cum - c AS DOUBLE) / m.n)), 6)
           |    AS ks_d
           |FROM c CROSS JOIN m GROUP BY m.n, m.mean""".stripMargin),
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("es"), col("event_id"))
      val deltas = ev(s, dir)
        .select(
          col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("es"),
          col("event_id"))
        .withColumn("nxt", lead(col("es"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select((col("nxt") - col("es")).as("delta"))
      graft.functions.Stats.ks1Exp(deltas, "delta")
    })

  /** Time-based holdout split: the last ~20 % of events (by the exact
    * type-1 p80 of event time) become the eval slice — the leakage-free
    * split for anything time-causal, where hash splits
    * ([[graft.operators.Splits]]) would let the future leak into
    * training. The cutoff rides the sharded exact-quantile kernel; the
    * report is exact integers per slice — hash-exact.
    */
  val splitTimeHoldout: Q = Q(
    "split_time_holdout",
    Some("""WITH e AS (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           |  FROM events),
           |g AS (SELECT es, COUNT(*) AS c FROM e GROUP BY es),
           |cm AS (SELECT es, SUM(c) OVER (ORDER BY es ROWS UNBOUNDED PRECEDING) AS r,
           |    SUM(c) OVER () AS n FROM g),
           |cut AS (SELECT MIN(es) AS cutoff FROM cm
           |  WHERE r >= CAST(CEIL(0.8 * n) AS BIGINT))
           |SELECT CASE WHEN es <= cutoff THEN 'train' ELSE 'eval' END AS split,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  MIN(es) AS min_es, MAX(es) AS max_es, MIN(cutoff) AS cutoff
           |FROM e CROSS JOIN cut GROUP BY 1""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir)
        .select(unix_timestamp(date_trunc("second", col("ts"))).as("es"))
      val cut = graft.functions.Stats.exactQuantiles(e, "es", Seq(0.8))
        .select(col("qv").cast(LongType).as("cutoff"))
      e.crossJoin(broadcast(cut))
        .groupBy(when(col("es") <= col("cutoff"), "train").otherwise("eval")
          .as("split"))
        .agg(
          count(lit(1)).as("n"),
          min("es").as("min_es"), max("es").as("max_es"),
          min("cutoff").as("cutoff"))
    })

  /** Wald–Wolfowitz runs test on the 5-minute bucket count series —
    * "is ingest volume serially random, or does it run hot and cold?"
    * The above/below-mean sign is the EXACT integer comparison
    * `n·B > total` (no float mean), adjacency is a rank self-join on the
    * bucketed series (bounded by wall-clock span, the [[statAutocorr]]
    * regime — the one row_number window rides the bounded-relation
    * [[graft.plans.ScalarExpressions.singlePartitionKey]] contract), and
    * the z-statistic is one fixed IEEE tree from integer run counts.
    */
  val statRunsTest: Q = {
    val zText =
      "(CAST(nrun + 1 AS DOUBLE) - (2.0 * n1 * n2 / n + 1.0)) / " +
        "SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (n * n * (n - 1.0)))"
    Q(
      "stat_runs_test",
      Some(s"""WITH b AS (SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket,
              |    COUNT(*) AS nb FROM events GROUP BY 1),
              |t AS (SELECT COUNT(*) AS nbk, SUM(nb) AS tot FROM b),
              |s AS (SELECT bucket,
              |    CASE WHEN nb * nbk > tot THEN 1 ELSE 0 END AS above,
              |    ROW_NUMBER() OVER (ORDER BY bucket) AS rk
              |  FROM b CROSS JOIN t),
              |r AS (SELECT COUNT(*) AS nrun FROM s a JOIN s c ON c.rk = a.rk + 1
              |  WHERE a.above <> c.above),
              |k AS (SELECT CAST(SUM(above) AS DOUBLE) AS n1,
              |    CAST(SUM(1 - above) AS DOUBLE) AS n2,
              |    CAST(COUNT(*) AS DOUBLE) AS n FROM s)
              |SELECT CAST(n AS BIGINT) AS n_buckets, CAST(n1 AS BIGINT) AS n_above,
              |  CAST(n2 AS BIGINT) AS n_below, CAST(nrun + 1 AS BIGINT) AS n_runs,
              |  $zText AS z
              |FROM r CROSS JOIN k""".stripMargin),
      (s, dir) => {
        val b = ev(s, dir)
          .withColumn("bucket", floor(unix_timestamp(col("ts")) / 300).cast(LongType))
          .groupBy("bucket").agg(count(lit(1)).as("nb"))
        val t = b.agg(count(lit(1)).as("nbk"), sum("nb").as("tot"))
        val wRk = Window
          .partitionBy(graft.plans.ScalarExpressions.singlePartitionKey(col("bucket")))
          .orderBy("bucket")
        val sgn = b.crossJoin(broadcast(t))
          .withColumn("above",
            when(col("nb") * col("nbk") > col("tot"), 1).otherwise(0))
          .withColumn("rk", row_number().over(wRk))
          .select("rk", "above")
        val nxt = sgn.select(col("rk").as("rk2"), col("above").as("above2"))
        val r = sgn.join(nxt, col("rk2") === col("rk") + 1)
          .filter(col("above") =!= col("above2"))
          .agg(count(lit(1)).as("nrun"))
        val k = sgn.agg(
          sum("above").cast("double").as("n1"),
          sum(lit(1) - col("above")).cast("double").as("n2"),
          count(lit(1)).cast("double").as("n"))
        r.crossJoin(k).select(
          col("n").cast(LongType).as("n_buckets"),
          col("n1").cast(LongType).as("n_above"),
          col("n2").cast(LongType).as("n_below"),
          (col("nrun") + 1).cast(LongType).as("n_runs"),
          expr(zText).as("z"))
      })
  }

  /** Cross-correlation between the hourly click-count and
    * purchase-count series at lags −3…+3 — the lead/lag detector a
    * funnel dashboard runs before claiming causality direction (does
    * purchase volume FOLLOW click volume, and by how many hours?).
    * Same windowless shape as [[statAutocorr]]: two hash aggregates to
    * calendar-bounded series, a 7-row literal lag explode, an equi-join
    * on `bucket + lag`, and per-lag Pearson from exact integer moments
    * (DECIMAL(18,0)² cross products on the HUGEINT-VARCHAR oracle
    * route) — one fixed IEEE tree, bit-exact unrounded.
    */
  val tsCrossCorrelation: Q = Q(
    "ts_cross_correlation",
    Some(s"""WITH b1 AS (
            |  SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
            |    CAST(COUNT(*) AS BIGINT) AS x
            |  FROM events WHERE event_type = 'click' GROUP BY 1),
            |b2 AS (
            |  SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
            |    CAST(COUNT(*) AS BIGINT) AS y
            |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
            |p AS (SELECT l.lag, a.x, c.y
            |  FROM b1 a CROSS JOIN (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) AS l(lag)
            |  JOIN b2 c ON c.bucket = a.bucket + l.lag),
            |g AS (SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
            |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
            |    CAST(CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxy,
            |    CAST(CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxx,
            |    CAST(CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS syy
            |  FROM p GROUP BY lag)
            |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
            |  (n * sxy - sx * sy)
            |    / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS xcorr
            |FROM g""".stripMargin),
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val d18 = DecimalType(18, 0)
      val e = ev(s, dir)
        .withColumn("bucket", floor(unix_timestamp(col("ts")) / 3600).cast(LongType))
      val b1 = e.filter(col("event_type") === "click")
        .groupBy("bucket").agg(count(lit(1)).as("x"))
      val b2 = e.filter(col("event_type") === "purchase")
        .groupBy("bucket").agg(count(lit(1)).as("y"))
        .select(col("bucket").as("bucket2"), col("y"))
      val lagged = b1.withColumn(
        "lag",
        explode(array((-3L to 3L).map(lit): _*)))
      val g = lagged
        .join(b2, lagged("bucket") + lagged("lag") === b2("bucket2"))
        .groupBy("lag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x").cast(d18) * col("y").cast(d18)).cast("double").as("sxy"),
          sum(col("x").cast(d18) * col("x").cast(d18)).cast("double").as("sxx"),
          sum(col("y").cast(d18) * col("y").cast(d18)).cast("double").as("syy"))
      g.select(
        col("lag"),
        col("n").cast(LongType).as("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("xcorr"))
    })

  /** Linear multi-touch attribution over the [[e12BandJoin]] candidate
    * pairs: each purchase splits one unit of credit equally across its
    * k in-window clicks, and the result is the per-click credit ledger
    * (user, click, purchases touched, credit) a bidding model trains
    * on. Composition of verified pieces: the e12 bucketed band join,
    * one purchase-cardinality hash aggregate for k, a projection-only
    * join back, and a per-click aggregate whose fractional credit sum
    * rides the DetAgg scale-12 decimal route (order-free) with the
    * round-6 tail. Credit conservation (Σ credit = #attributed
    * purchases) is spec-pinned.
    */
  val e13AttributionLinear: Q = Q(
    "e13_attribution_linear",
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
            |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
            |  FROM events),
            |l AS (SELECT user_id, event_id AS click_id, es AS tl
            |  FROM e WHERE event_type = 'click'),
            |r AS (SELECT user_id, event_id AS purchase_id, es AS tr
            |  FROM e WHERE event_type = 'purchase'),
            |pairs AS (SELECT l.user_id, click_id, purchase_id
            |  FROM l JOIN r ON l.user_id = r.user_id
            |    AND ABS(tl - tr) <= 120),
            |k AS (SELECT purchase_id, COUNT(*) AS k
            |  FROM pairs GROUP BY 1)
            |SELECT user_id, click_id,
            |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
            |  ROUND(${graft.functions.DetAgg.Sql.dsumP("1.0 / k")}, 6) AS credit
            |FROM pairs JOIN k USING (purchase_id)
            |GROUP BY 1, 2""".stripMargin),
    (s, dir) => {
      val e = ev(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("es"))
      val l = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("es").as("tl"))
      val r = e.filter(col("event_type") === "purchase")
        .select(
          col("user_id").as("ur"), col("event_id").as("purchase_id"),
          col("es").as("tr"), floor(col("es") / 120).cast(LongType).as("br"))
      val probe = l.withColumn("pb",
        explode(array(
          floor(col("tl") / 120).cast(LongType) - 1,
          floor(col("tl") / 120).cast(LongType),
          floor(col("tl") / 120).cast(LongType) + 1)))
      val pairs = probe
        .join(r, col("user_id") === col("ur") && col("pb") === col("br"))
        .filter(abs(col("tl") - col("tr")) <= 120)
        .select("user_id", "click_id", "purchase_id")
      val k = pairs.groupBy("purchase_id").agg(count(lit(1)).as("k"))
      pairs.join(k, "purchase_id")
        .groupBy("user_id", "click_id")
        .agg(
          count(lit(1)).as("n_purchases"),
          round(DetAgg.dsumP(lit(1.0) / col("k")), 6).as("credit"))
    })

  /** Kaplan–Meier survival curve of time-to-first-purchase — THE
    * censoring-correct conversion analysis (a plain average of observed
    * conversion times is biased the moment any user hasn't converted
    * yet): duration = hours from a user's first event to their first
    * `purchase`, administratively censored at a 72-hour horizon (users
    * whose first purchase falls at or beyond 72 h count as at-risk up
    * to the horizon, then leave the risk set unconverted — this
    * dataset's users all convert eventually, so the horizon is what
    * makes the censoring machinery non-vacuous at every SF). Per
    * distinct time: risk-set size by prefix subtraction (one window
    * over the ≤73-row time relation, [[graft.plans.ScalarExpressions
    * .singlePartitionKey]] contract), S(t) = Π(1 − dᵢ/nᵢ) computed as
    * EXP of the cumulative sum of per-time round-6 LN terms — the PMI
    * ln-portability discipline: rounded terms summed in the window's
    * deterministic time order are bit-identical in both engines, one
    * EXP + round-6 closes it. 1 − d/n > 0 holds whenever any user is
    * horizon-censored (they stay at risk past every event time < 72);
    * should a dataset ever convert EVERYONE, the last event time has
    * d = n_risk and the curve is absorbed at exactly 0 — carried by a
    * cumulative flag shared with the oracle, never LN(0) (Spark NULLs
    * it where DuckDB raises — the silent-vs-loud class). Hash-exact.
    */
  val e19KaplanMeier: Q = {
    val horizon = 72
    Q(
      "e19_kaplan_meier",
      Some(s"""WITH u AS (SELECT user_id,
              |    CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS t0
              |  FROM events GROUP BY 1),
              |p AS (SELECT user_id,
              |    CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS tp
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |s AS (SELECT u.user_id,
              |    CASE WHEN tp IS NOT NULL AND (tp - t0) // 3600 < $horizon
              |         THEN 1 ELSE 0 END AS ev,
              |    CASE WHEN tp IS NOT NULL AND (tp - t0) // 3600 < $horizon
              |         THEN (tp - t0) // 3600 ELSE $horizon END AS t
              |  FROM u LEFT JOIN p ON p.user_id = u.user_id),
              |g AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
              |    CAST(SUM(1 - ev) AS BIGINT) AS c
              |  FROM s GROUP BY t),
              |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM s),
              |r AS (SELECT t, d, c,
              |    CAST(total - COALESCE(SUM(d + c) OVER (ORDER BY t
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |      AS BIGINT) AS n_risk
              |  FROM g CROSS JOIN tot),
              |h AS (SELECT t, d, c, n_risk,
              |    CASE WHEN d > 0 AND d < n_risk
              |         THEN ROUND(LN(1.0 - CAST(d AS DOUBLE) / n_risk), 6)
              |         ELSE 0.0 END AS lnterm,
              |    CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS absorbed
              |  FROM r)
              |SELECT t AS t_hours, n_risk, d AS d_events, c AS c_censored,
              |  CASE WHEN SUM(absorbed) OVER (ORDER BY t
              |      ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
              |    ELSE ROUND(EXP(SUM(lnterm) OVER (ORDER BY t
              |      ROWS UNBOUNDED PRECEDING)), 6) END AS survival
              |FROM h ORDER BY t_hours""".stripMargin),
      (s, dir) => {
        val base = ev(s, dir).select(
          col("user_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("es"),
          col("event_type"))
        val u = base.groupBy("user_id").agg(min("es").as("t0"))
        val p = base.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("es").as("tp"))
        val dur = expr("(tp - t0) div 3600")
        val converted = col("tp").isNotNull && dur < horizon
        val subj = u.join(p, Seq("user_id"), "left")
          .select(
            col("user_id"),
            when(converted, 1L).otherwise(0L).as("ev"),
            when(converted, dur).otherwise(horizon.toLong).as("t"))
        val g = subj.groupBy("t").agg(
          sum("ev").as("d"), sum(lit(1L) - col("ev")).as("c"))
        val tot = subj.agg(count(lit(1)).as("total"))
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("t"))
        val wPrev = Window.partitionBy(spk).orderBy("t")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.partitionBy(spk).orderBy("t")
          .rowsBetween(Window.unboundedPreceding, 0)
        g.crossJoin(broadcast(tot))
          .withColumn("n_risk",
            col("total") - coalesce(
              sum(col("d") + col("c")).over(wPrev), lit(0L)))
          // absorbed risk set (d = n_risk — everyone still at risk
          // converts at this time, possible only when no user is
          // horizon-censored at this SF): S drops to EXACTLY 0 from
          // this time on, carried by a cumulative flag rather than
          // LN(0), which Spark NULLs where DuckDB raises — the
          // silent-vs-loud class (r10 ADVICE)
          .withColumn("lnterm",
            when(col("d") > 0 && col("d") < col("n_risk"),
              round(log(lit(1.0) - col("d").cast("double") / col("n_risk")), 6))
              .otherwise(lit(0.0)))
          .withColumn("absorbed",
            when(col("d") >= col("n_risk"), 1L).otherwise(0L))
          .select(
            col("t").as("t_hours"), col("n_risk"),
            col("d").as("d_events"), col("c").as("c_censored"),
            when(sum("absorbed").over(wCum) > 0, lit(0.0))
              .otherwise(round(exp(sum("lnterm").over(wCum)), 6))
              .as("survival"))
          .orderBy("t_hours")
      })
  }

  /** Mann–Kendall trend test on the hourly event-count series — the
    * NONPARAMETRIC "is traffic trending" gate ([[tsRollingSlope]]
    * reports a windowed rate; this tests monotone trend over the whole
    * window with a calibrated null and no normality assumption):
    * S = Σ_{i<j} sign(xⱼ − xᵢ) over all bucket pairs, tie-corrected
    * variance, the ±1-continuity z. The pair join is quadratic in
    * BUCKETS — bounded by the time span (≈720 for a 30-day window),
    * never by data volume (the [[tsChangepoint]] axis argument), so the
    * non-equi join is a deliberate bounded nested loop. S and the tie
    * fold are exact BIGINTs; z is one fixed IEEE tree TEXT-shared with
    * the oracle — hash-exact unrounded.
    */
  val statMannKendall: Q = {
    // CAST the divisor: a bare `18.0` is a DECIMAL literal to DuckDB
    // (BIGINT / DECIMAL stays DECIMAL — the exact class the type gate
    // kills) but a DOUBLE to Spark; the explicit cast makes the shared
    // text one IEEE division in both engines
    val varTree = "(m * (m - 1) * (2 * m + 5) - tie) / CAST(18.0 AS DOUBLE)"
    val zTree =
      s"""CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT($varTree)
         |     WHEN s_stat < 0 THEN (s_stat + 1) / SQRT($varTree)
         |     ELSE 0.0 END""".stripMargin
    Q(
      "stat_mann_kendall",
      Some(s"""WITH b AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS n
              |  FROM events GROUP BY 1),
              |s AS (SELECT CAST(COALESCE(SUM(CASE WHEN c.n > a.n THEN 1
              |    WHEN c.n < a.n THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
              |  FROM b a JOIN b c ON c.bucket > a.bucket),
              |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM b),
              |ties AS (SELECT CAST(COALESCE(SUM(tg * (tg - 1) * (2 * tg + 5)), 0)
              |    AS BIGINT) AS tie
              |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tg FROM b GROUP BY n)
              |  WHERE tg > 1)
              |SELECT m AS n_buckets, s_stat, $varTree AS var_s, $zTree AS z
              |FROM s CROSS JOIN nb CROSS JOIN ties""".stripMargin),
      (s, dir) => {
        val b = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("n"))
        val b2 = b.select(col("bucket").as("bucket2"), col("n").as("n2"))
        val sStat = b.join(b2, col("bucket2") > col("bucket"))
          .agg(coalesce(
            sum(when(col("n2") > col("n"), 1L)
              .when(col("n2") < col("n"), -1L).otherwise(0L)),
            lit(0L)).as("s_stat"))
        val nb = b.agg(count(lit(1)).as("m"))
        val ties = b.groupBy("n").agg(count(lit(1)).as("tg"))
          .filter(col("tg") > 1)
          .agg(coalesce(
            sum(col("tg") * (col("tg") - 1) * (lit(2) * col("tg") + 5)),
            lit(0L)).as("tie"))
        sStat.crossJoin(broadcast(nb)).crossJoin(broadcast(ties))
          .select(
            col("m").as("n_buckets"), col("s_stat"),
            expr(varTree).as("var_s"), expr(zTree).as("z"))
      })
  }

  /** Two-proportion conversion z between deterministically hash-split
    * arms — the primitive A/B readout on top of [[graft.queries
    * .ProfileQueries.srmCheck]]'s assignment (same Knuth-hash bucket
    * text, so the arms whose balance SRM validates are the arms this
    * tests): per-user conversion = first `purchase` within 24 h of the
    * user's first event (the [[e19KaplanMeier]] horizon semantics —
    * lifetime "ever purchased" is 100 % in this dataset, which would
    * make the pooled variance exactly zero), pooled-variance z. One
    * user-keyed aggregate + one 1-row fold, exact integers into a
    * fixed IEEE tree — hash-exact unrounded.
    */
  val abConversionZ: Q = {
    val arm = "(user_id + 7) % 100000 * 2654435761 % 4294967296 % 2"
    val p = "(CAST(x0 + x1 AS DOUBLE) / (n0 + n1))"
    val z = s"(CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1)" +
      s" / SQRT($p * (1.0 - $p)" +
      s" * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))"
    val ms = Seq(
      s"CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0",
      s"CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS x0",
      s"CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1",
      s"CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS x1")
    Q(
      "ab_conversion_z",
      Some(s"""WITH b AS (SELECT user_id,
              |    CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS t0,
              |    CAST(epoch(date_trunc('second', MIN(CASE
              |      WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS tp
              |  FROM events GROUP BY user_id),
              |u AS (SELECT user_id,
              |    CASE WHEN tp IS NOT NULL AND (tp - t0) // 3600 < 24
              |         THEN 1 ELSE 0 END AS conv,
              |    $arm AS arm
              |  FROM b),
              |m AS (SELECT ${ms.mkString(",\n  ")} FROM u)
              |SELECT n0, x0, n1, x1,
              |  CAST(x0 AS DOUBLE) / n0 AS rate0,
              |  CAST(x1 AS DOUBLE) / n1 AS rate1,
              |  $z AS z
              |FROM m""".stripMargin),
      (s, dir) => {
        val b = ev(s, dir)
          .select(
            col("user_id"),
            unix_timestamp(date_trunc("second", col("ts"))).as("es"),
            col("event_type"))
          .groupBy("user_id")
          .agg(
            min("es").as("t0"),
            min(when(col("event_type") === "purchase", col("es"))).as("tp"))
        val u = b
          .select(
            col("user_id"),
            when(col("tp").isNotNull && expr("(tp - t0) div 3600") < 24, 1L)
              .otherwise(0L).as("conv"))
          .withColumn("arm", expr(arm))
        u.agg(expr(ms.head), ms.tail.map(expr): _*)
          .select(
            col("n0"), col("x0"), col("n1"), col("x1"),
            expr("CAST(x0 AS DOUBLE) / n0").as("rate0"),
            expr("CAST(x1 AS DOUBLE) / n1").as("rate1"),
            expr(z).as("z"))
      })
  }

  /** CUPED-adjusted per-arm means — the variance-reduction step every
    * serious experimentation stack runs before the readout (Deng et al.
    * 2013): pre-period covariate = a user's value mass before the
    * corpus midpoint, metric = mass after it, θ = cov(pre, post) /
    * var(pre) POOLED, and the per-arm adjusted mean in closed form
    * from exact moments — mean_adj = mean_post − θ·(mean_pre_arm −
    * mean_pre_all), so no per-user adjusted column ever materializes.
    * Every sum rides the exact-decimal route; θ and the means are a
    * fixed IEEE tree TEXT-shared with the oracle — hash-exact
    * unrounded.
    */
  /** Oracle CTEs `e(user_id, es, value)`, `t(mid)`, `u(user_id, arm,
    * pre, post)` — each user's pre-/post-midpoint value mass plus the
    * Knuth-hash arm — ONE text shared between `ab_cuped` and
    * `stat_wilcoxon_signed_rank` (the poissonRateSqlCtes discipline).
    */
  private val prePostSqlCtes: String = {
    val arm = "(user_id + 7) % 100000 * 2654435761 % 4294967296 % 2"
    s"""WITH e AS (SELECT user_id,
       |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es, value
       |  FROM events),
       |t AS (SELECT (MIN(es) + MAX(es)) // 2 AS mid FROM e),
       |u AS (SELECT user_id, $arm AS arm,
       |    ${D.dsum("CASE WHEN es <= mid THEN value ELSE 0 END")} AS pre,
       |    ${D.dsum("CASE WHEN es > mid THEN value ELSE 0 END")} AS post
       |  FROM e CROSS JOIN t GROUP BY 1, 2)""".stripMargin
  }

  /** The matching Spark plan: (user_id, arm, pre, post) — shared by the
    * same two queries as [[prePostSqlCtes]].
    */
  private def prePostByUser(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val e = ev(s, dir).select(
      col("user_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("es"),
      col("value"))
    val t = e.agg(expr("(min(es) + max(es)) div 2").as("mid"))
    e.crossJoin(broadcast(t))
      .groupBy("user_id")
      .agg(
        DetAgg.dsum(when(col("es") <= col("mid"), col("value"))
          .otherwise(lit(0.0))).as("pre"),
        DetAgg.dsum(when(col("es") > col("mid"), col("value"))
          .otherwise(lit(0.0))).as("post"))
      .withColumn("arm",
        expr("(user_id + 7) % 100000 * 2654435761 % 4294967296 % 2"))
  }

  val abCuped: Q = {
    val theta = "((spo - sp * so / n) / (spp - sp * sp / n))"
    Q(
      "ab_cuped",
      Some(s"""$prePostSqlCtes,
              |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    ${D.dsumExact("pre")} AS sp, ${D.dsumExact("post")} AS so,
              |    ${D.dsumExact("pre * pre")} AS spp,
              |    ${D.dsumExact("pre * post")} AS spo
              |  FROM u),
              |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
              |    ${D.dsumExact("pre")} AS sp_a, ${D.dsumExact("post")} AS so_a
              |  FROM u GROUP BY arm)
              |SELECT arm, n_arm,
              |  so_a / n_arm AS mean_post,
              |  sp_a / n_arm AS mean_pre,
              |  so_a / n_arm - $theta * (sp_a / n_arm - sp / n) AS mean_adj
              |FROM a CROSS JOIN m ORDER BY arm""".stripMargin),
      (s, dir) => {
        val u = prePostByUser(s, dir)
        val m = u.agg(
          count(lit(1)).as("n"),
          DetAgg.dsum(col("pre")).as("sp"),
          DetAgg.dsum(col("post")).as("so"),
          DetAgg.dsum(col("pre") * col("pre")).as("spp"),
          DetAgg.dsum(col("pre") * col("post")).as("spo"))
        u.groupBy("arm")
          .agg(
            count(lit(1)).as("n_arm"),
            DetAgg.dsum(col("pre")).as("sp_a"),
            DetAgg.dsum(col("post")).as("so_a"))
          .crossJoin(broadcast(m))
          .select(
            col("arm"), col("n_arm"),
            expr("so_a / n_arm").as("mean_post"),
            expr("sp_a / n_arm").as("mean_pre"),
            expr(s"so_a / n_arm - $theta * (sp_a / n_arm - sp / n)")
              .as("mean_adj"))
          .orderBy("arm")
      })
  }

  /** Wilcoxon signed-rank test on the paired pre/post value masses —
    * the nonparametric paired complement of the A/B family (did
    * per-user activity SHIFT across the midpoint, using only ranks of
    * the paired differences): zero differences drop (standard
    * practice), |d| gets mid-ranks from the SAME sharded ranked-cells
    * kernel as Kruskal/Dunn (group = sign of d, so ties across signs
    * share one rank), W⁺ = Σ positive-sign ranks via the exact
    * doubled-mid-rank BIGINT identity, normal approximation with the
    * tie-corrected variance − Σ(t³−t)/48. The difference doubles are
    * bit-identical in both engines (exact-decimal pre/post), so
    * grouping on them is portable; z is one literal IEEE tree
    * TEXT-shared with the oracle — hash-exact unrounded.
    */
  val statWilcoxon: Q = {
    val z = "(CAST(w2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4.0)" +
      " / SQRT(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0" +
      " - CAST(tt AS DOUBLE) / 48.0)"
    Q(
      "stat_wilcoxon_signed_rank",
      Some(s"""$prePostSqlCtes,
              |d AS (SELECT post - pre AS d FROM u WHERE post <> pre),
              |g AS (SELECT ABS(d) AS v,
              |    CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos, COUNT(*) AS c
              |  FROM d GROUP BY 1, 2),
              |bv AS (SELECT v, SUM(c) AS ct FROM g GROUP BY v),
              |cum AS (SELECT v, ct,
              |    SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS r
              |  FROM bv),
              |cells AS (SELECT pos, c, ct, r FROM g JOIN cum USING (v)),
              |m AS (SELECT
              |    CAST(SUM(CASE WHEN pos = 1 THEN c * (2 * r - ct + 1)
              |      ELSE 0 END) AS BIGINT) AS w2,
              |    CAST(SUM(c) AS BIGINT) AS n FROM cells),
              |tv AS (SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tt FROM bv)
              |SELECT n, CAST(w2 AS DOUBLE) / 2 AS w_plus, $z AS z
              |FROM m CROSS JOIN tv""".stripMargin),
      (s, dir) => {
        val d = prePostByUser(s, dir)
          .filter(col("post") =!= col("pre"))
          .select(
            abs(col("post") - col("pre")).as("absd"),
            when(col("post") - col("pre") > 0, 1L).otherwise(0L).as("pos"))
        val cells = graft.functions.Stats.rankedCells(d, "pos", "absd")
        val m = cells.agg(
          expr("CAST(SUM(CASE WHEN __g = 1 THEN __c * (2 * __r - __ct + 1)" +
            " ELSE 0 END) AS BIGINT)").as("w2"),
          expr("CAST(SUM(__c) AS BIGINT)").as("n"))
        val tv = cells.select("__v", "__ct").distinct().agg(
          expr("CAST(SUM(__ct * __ct * __ct - __ct) AS BIGINT)").as("tt"))
        m.crossJoin(broadcast(tv))
          .select(
            col("n"),
            expr("CAST(w2 AS DOUBLE) / 2").as("w_plus"),
            expr(z).as("z"))
      })
  }

  /** Paired sign-flip permutation test on the per-user pre/post value
    * masses (the [[prePostSqlCtes]] relation — one text with ab_cuped
    * and the Wilcoxon): the EXACT nonparametric alternative to the
    * paired t-test, and the resampling family's significance twin to
    * [[graft.operators.Bootstrap]]'s error bands. Under H₀ each user's
    * difference is symmetric around 0, so every ±1 sign pattern is
    * equally likely: 200 replicas flip each round-6 difference by a
    * DETERMINISTIC portable sign — the high bit of the Knuth
    * multiplicative mix of (131·user + 7·rep + 13) mod 1e5, the
    * a10_bootstrap_hash discipline: injective per user below 1e5 ids
    * (this testdata's regime) and weaker than xxhash64 above it, where
    * the production form swaps the hash and goes rows-only. T = Σ s·d
    * rides the exact scale-6 decimal route (±round-6 values), so every
    * replica statistic is order-free and the two-sided
    * p = (1 + #{|T_r| ≥ |T_obs|}) / (R+1) is exact integer arithmetic
    * over bit-identical doubles. Plan: the user relation explodes ×200
    * on a literal sequence and ONE hash aggregate on rep folds it —
    * linear in users × replicas, no window anywhere. Hash-exact
    * unrounded.
    */
  val statPermutationSignflip: Q = {
    val reps = 200
    // user_id is reduced mod 1e5 BEFORE any product (the CountMin.bucket
    // discipline): `user_id * 131` on a raw 64-bit id would wrap
    // silently in Spark where DuckDB raises — the silent-vs-loud class.
    // Injectivity below 1e5 ids is unchanged (mod is a no-op there).
    val sign =
      "(user_id % 100000 * 131 + rep * 7 + 13) % 100000 * 2654435761 % 4294967296"
    Q(
      "stat_permutation_signflip",
      Some(s"""$prePostSqlCtes,
              |d AS (SELECT user_id, ROUND(post - pre, 6) AS d FROM u),
              |obs AS (SELECT ${D.dsum("d")} AS t_obs,
              |    CAST(COUNT(*) AS BIGINT) AS n FROM d),
              |reps AS (SELECT UNNEST(generate_series(1, $reps)) AS rep),
              |fl AS (SELECT rep,
              |    CASE WHEN $sign >= 2147483648 THEN d ELSE -d END AS sd
              |  FROM d CROSS JOIN reps),
              |tr AS (SELECT rep, ${D.dsum("sd")} AS t FROM fl GROUP BY 1),
              |ex AS (SELECT CAST(SUM(CASE WHEN ABS(t) >= ABS(t_obs)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
              |  FROM tr CROSS JOIN obs)
              |SELECT n AS n_users, t_obs, n_extreme,
              |  (CAST(n_extreme AS DOUBLE) + 1) / ${reps + 1}.0 AS p_value
              |FROM obs CROSS JOIN ex""".stripMargin),
      (s, dir) => {
        val d = prePostByUser(s, dir)
          .select(col("user_id"), round(col("post") - col("pre"), 6).as("d"))
        val obs = d.agg(
          DetAgg.dsum(col("d")).as("t_obs"), count(lit(1)).as("n"))
        val fl = d
          .select(col("user_id"), col("d"),
            explode(sequence(lit(1), lit(reps))).as("rep"))
          .select(col("rep"),
            when(expr(sign) >= 2147483648L, col("d"))
              .otherwise(-col("d")).as("sd"))
        val tr = fl.groupBy("rep").agg(DetAgg.dsum(col("sd")).as("t"))
        val ex = tr.crossJoin(broadcast(obs)).agg(
          sum(when(abs(col("t")) >= abs(col("t_obs")), 1L).otherwise(0L))
            .cast(LongType).as("n_extreme"))
        obs.crossJoin(broadcast(ex)).select(
          col("n").as("n_users"), col("t_obs"), col("n_extreme"),
          ((col("n_extreme").cast("double") + 1) / lit((reps + 1).toDouble))
            .as("p_value"))
      })
  }

  /** The native `session_window` STREAMING sessionization plan run in
    * batch (the serving-both-ways proof of `stream_drift_monitor` /
    * `stream_quality_monitor`, extended to Spark's session-merge state
    * operator): per user, events within 1800 s merge into one session,
    * end = last event + gap. The oracle replays the merge semantics as
    * gaps-and-islands, breaking at gap STRICTLY > 1800: Spark's
    * session_window merges INCLUSIVELY (an event arriving exactly `gap`
    * after the last still extends the session — the r14 sf0.1 drive
    * caught a real exact-1800 s gap where the old `≥` oracle split and
    * the operator merged; `e2_sessionize` and the custom stateful
    * sessionizer already use the inclusive rule, so all three tiers now
    * agree); timestamps go through `date_trunc('second')`
    * BEFORE sessionizing on both sides (the events-ts house rule), so
    * the merge decisions are bit-identical. `e2_sessionize` verifies
    * the lag/island BATCH formulation; this row verifies the streaming
    * operator's own aggregation path against the same ground truth.
    */
  val streamSessionize: Q = Q(
    "stream_sessionize_monitor",
    Some("""WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts
           |  FROM events),
           |o AS (SELECT user_id, ts,
           |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM e),
           |m AS (SELECT user_id, ts,
           |    CASE WHEN pts IS NULL OR epoch(ts) - epoch(pts) > 1800
           |         THEN 1 ELSE 0 END AS brk FROM o),
           |s AS (SELECT user_id, ts,
           |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS UNBOUNDED PRECEDING) AS sid FROM m)
           |SELECT user_id, MIN(ts) AS session_start,
           |  MAX(ts) + INTERVAL 1800 SECOND AS session_end,
           |  CAST(COUNT(*) AS BIGINT) AS n_events
           |FROM s GROUP BY user_id, sid""".stripMargin),
    (s, dir) =>
      graft.streaming.SessionizeStream.sessionizeNative(
        ev(s, dir).select(
          col("user_id"), date_trunc("second", col("ts")).as("ts")),
        gapSeconds = 1800))

  /** Granger-causality F (lag 1): do view counts PREDICT next-hour
    * purchase counts beyond purchases' own history — the leading-
    * indicator test behind "is traffic a forecast of conversions"
    * ([[tsCrossCorrelation]] measures association at lags; Granger
    * adds the own-history control that separates lead from shared
    * trend). Restricted model y_t ~ y_{t−1} vs unrestricted
    * y_t ~ y_{t−1} + x_{t−1}, both solved IN CLOSED FORM from the nine
    * raw BIGINT moment sums of one aggregate over the lag-joined
    * hourly relation (hourly counts are exact integers, so every raw
    * moment is exact; the centered moments, both RSS values and F are
    * one literal IEEE tree TEXT-shared with the oracle). Bounded by
    * the time span, never data volume. Hash-exact unrounded.
    */
  val tsGranger: Q = {
    val rawSums = Seq(
      "CAST(COUNT(*) AS BIGINT) AS n",
      "CAST(SUM(y) AS BIGINT) AS sy", "CAST(SUM(w) AS BIGINT) AS sw",
      "CAST(SUM(x) AS BIGINT) AS sx",
      "CAST(SUM(y * y) AS BIGINT) AS syy", "CAST(SUM(w * w) AS BIGINT) AS sww",
      "CAST(SUM(x * x) AS BIGINT) AS sxx",
      "CAST(SUM(w * y) AS BIGINT) AS swy", "CAST(SUM(x * y) AS BIGINT) AS sxy",
      "CAST(SUM(w * x) AS BIGINT) AS swx")
    def cen(raw: String, a: String, b: String) =
      s"(CAST($raw AS DOUBLE) - CAST($a AS DOUBLE) * $b / n)"
    val stage2 = Seq(
      cen("syy", "sy", "sy") -> "cyy", cen("sww", "sw", "sw") -> "cww",
      cen("sxx", "sx", "sx") -> "cxx", cen("swy", "sw", "sy") -> "cwy",
      cen("sxy", "sx", "sy") -> "cxy", cen("swx", "sw", "sx") -> "cwx")
    val rssR = "(cyy - cwy * cwy / cww)"
    val rssU = "(cyy - (cwy * (cxx * cwy - cwx * cxy)" +
      " + cxy * (cww * cxy - cwx * cwy)) / (cww * cxx - cwx * cwx))"
    val f = "((rss_r - rss_u) * (n - 3) / rss_u)"
    Q(
      "ts_granger",
      Some(s"""WITH b AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS t,
              |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS xv,
              |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS yp
              |  FROM events GROUP BY 1),
              |p AS (SELECT cur.yp AS y, prev.yp AS w, prev.xv AS x
              |      FROM b cur JOIN b prev ON prev.t = cur.t - 1),
              |m AS (SELECT ${rawSums.mkString(",\n  ")} FROM p),
              |c AS (SELECT n, ${stage2.map { case (e, a) => s"$e AS $a" }
                .mkString(",\n  ")} FROM m),
              |r AS (SELECT n, $rssR AS rss_r, $rssU AS rss_u FROM c)
              |SELECT n, rss_r, rss_u, $f AS f_stat FROM r""".stripMargin),
      (s, dir) => {
        val b0 = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("t"))
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("xv"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("yp"))
        // OVERFLOW GUARD, in-plan (the HITS/jaccardPairs assert_true
        // discipline): the raw second moments SUM(y*y) etc. are bounded
        // by H·M² for H hourly buckets with max hourly count M; past
        // 2^63 Spark's BIGINT sum wraps SILENTLY while the DuckDB
        // oracle's HUGEINT stays exact — the silent-vs-loud divergence
        // class. The bound rides a 1-row broadcast over the (≤ #hours)
        // bucket relation, checked in double (exact below 2^53·2 here,
        // and only a guard), and fails the bucket materialization
        // before any moment can wrap.
        val bound = b0.agg(
          coalesce(max(greatest(col("xv"), col("yp"))), lit(0L)).as("__m"),
          count(lit(1)).as("__h"))
        val b = b0.crossJoin(broadcast(bound))
          .filter(assert_true(
            col("__h").cast("double") * col("__m").cast("double")
              * col("__m").cast("double") <= lit(4.0e18),
            format_string(
              "ts_granger overflow guard: %d hourly buckets with max " +
                "hourly count %d put the raw BIGINT second moments past " +
                "2^63 (H*M^2 > 4e18), where Spark wraps silently but the " +
                "integer oracle raises. Widen the bucket or pre-scale " +
                "the series before the Granger fit.",
              col("__h"), col("__m"))).isNull)
          .drop("__m", "__h")
        val prev = b.select(
          col("t").as("pt"), col("yp").as("w"), col("xv").as("x"))
        val p = b.join(prev, col("pt") === col("t") - 1)
          .select(col("yp").as("y"), col("w"), col("x"))
        p.agg(expr(rawSums.head), rawSums.tail.map(expr): _*)
          .select(col("n") +: stage2.map { case (e, a) => expr(e).as(a) }: _*)
          .select(col("n"), expr(rssR).as("rss_r"), expr(rssU).as("rss_u"))
          .select(col("n"), col("rss_r"), col("rss_u"), expr(f).as("f_stat"))
      })
  }

  /** The streaming windowed t-digest quantile monitor's plan run in
    * batch ([[graft.streaming.QuantileStream.windowedQuantilesOf]] —
    * one function serves both, the sessionize-twin discipline): per
    * (5-minute window, event_type), sketch estimates at q50/q90/q99
    * plus the exact count/min/max envelope. The EXACT columns
    * hash-check against the DuckDB replay; the sketch estimates carry a
    * CERTIFICATE column (the agg_tdigest pattern): monotone across the
    * grid and inside [vmin, vmax] — the oracle's literal TRUE matches
    * iff every window's sketch satisfies its envelope.
    */
  val streamQuantile: Q = {
    val qs = Seq(0.5, 0.9, 0.99)
    Q(
      "stream_quantile_monitor",
      Some("""SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket,
             |  event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(value) AS vmin, MAX(value) AS vmax, TRUE AS sketch_ok
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        graft.streaming.QuantileStream
          .windowedQuantilesOf(ev(s, dir), qs)
          .select(
            floor(unix_timestamp(col("window_start")) / 300).cast(LongType)
              .as("bucket"),
            col("event_type"), col("n"), col("vmin"), col("vmax"),
            (element_at(col("q"), 1) >= col("vmin") &&
              element_at(col("q"), 1) <= element_at(col("q"), 2) &&
              element_at(col("q"), 2) <= element_at(col("q"), 3) &&
              element_at(col("q"), 3) <= col("vmax")).as("sketch_ok"))
          .orderBy("bucket", "event_type"))
  }

  /** Cochran–Armitage trend test — does conversion RISE with engagement
    * dose ([[statChi2]] asks "is there ANY association"; this tests the
    * ORDERED alternative, which is what a funnel owner actually wants
    * to know): users bucketed by fixed activity thresholds (62/69
    * events — the generated corpus's stable terciles at every SF; all
    * users in one dose would zero the trend variance, and BOTH engines
    * then yield z = NULL from the 0/0 division — consistently SILENT
    * (DuckDB double division by zero is NULL, Spark non-ANSI likewise),
    * so a degenerate corpus hash-matches as a NULL row rather than
    * erroring; r11 ADVICE corrected the earlier "raises loudly" claim)
    * into doses 0/1/2,
    * outcome = heavy purchaser (≥ 13 purchases — EVERY generated user
    * converts at least once, so bare conversion is constant-1 and
    * degenerate; the count threshold splits every SF and trends with
    * dose, which is the point of the test), scores w = 0/1/2.
    * z = Σw(r_g − n_g·R/N) / √(R/N·(1−R/N)·(Σw²n_g − (Σw n_g)²/N)) —
    * every moment an exact BIGINT from one ≤3-row aggregate over the
    * per-user relation, the z one fixed IEEE tree TEXT-shared with the
    * oracle. Two hash aggregates, no window, no join beyond the 1-row
    * broadcast — hash-exact unrounded.
    */
  val statCochranArmitage: Q = {
    val zTree =
      """(CAST(swr AS DOUBLE) - CAST(sw AS DOUBLE) * r / n)
        | / SQRT(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
        |   * (CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n))""".stripMargin
    Q(
      "stat_cochran_armitage",
      Some(s"""WITH u AS (SELECT user_id, COUNT(*) AS n_ev,
              |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
              |      THEN 1 ELSE 0 END) >= 13 THEN 1 ELSE 0 END AS y
              |  FROM events GROUP BY 1),
              |d AS (SELECT CASE WHEN n_ev <= 62 THEN 0
              |    WHEN n_ev <= 69 THEN 1 ELSE 2 END AS dose, y FROM u),
              |g AS (SELECT dose, CAST(COUNT(*) AS BIGINT) AS n_g,
              |    CAST(SUM(y) AS BIGINT) AS r_g
              |  FROM d GROUP BY 1),
              |m AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
              |    CAST(SUM(r_g) AS BIGINT) AS r,
              |    CAST(SUM(dose * n_g) AS BIGINT) AS sw,
              |    CAST(SUM(dose * dose * n_g) AS BIGINT) AS sww,
              |    CAST(SUM(dose * r_g) AS BIGINT) AS swr
              |  FROM g)
              |SELECT g.dose, g.n_g, g.r_g,
              |  ROUND(CAST(g.r_g AS DOUBLE) / g.n_g, 6) AS rate,
              |  $zTree AS z
              |FROM g CROSS JOIN m ORDER BY g.dose""".stripMargin),
      (s, dir) => {
        val u = ev(s, dir).groupBy("user_id").agg(
          count(lit(1)).as("n_ev"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            >= 13, 1L).otherwise(0L).as("y"))
        val d = u.select(
          when(col("n_ev") <= 62, 0L).when(col("n_ev") <= 69, 1L)
            .otherwise(2L).as("dose"),
          col("y"))
        val g = d.groupBy("dose").agg(
          count(lit(1)).as("n_g"), sum("y").as("r_g"))
        val m = g.agg(
          sum("n_g").as("n"), sum("r_g").as("r"),
          sum(col("dose") * col("n_g")).as("sw"),
          sum(col("dose") * col("dose") * col("n_g")).as("sww"),
          sum(col("dose") * col("r_g")).as("swr"))
        g.crossJoin(broadcast(m))
          .select(
            col("dose"), col("n_g"), col("r_g"),
            round(col("r_g").cast("double") / col("n_g"), 6).as("rate"),
            expr(zTree).as("z"))
          .orderBy("dose")
      })
  }

  /** Periodogram of the hourly event-count series — the seasonality
    * DETECTOR ([[tsSeasonalDecompose]] extracts a KNOWN period; this
    * finds the period): discrete Fourier power at frequencies k ≤ n/2
    * (capped 240), reported as the top-10 periods. The j×k grid is
    * quadratic in BUCKETS — bounded by the time span (the
    * [[statMannKendall]]/[[tsChangepoint]] axis argument), never by
    * data volume, and an in-plan assert_true caps the series at 4096
    * buckets so a years-long span fails loudly before an n² blowup
    * instead of melting the cluster. Portability: the series is
    * centered by the INTEGER mean (`tot div n` — exact, where a double
    * mean would make every product engine-rounded), cos/sin are
    * round-6 (absorbing the ≤1-ulp libm spread, the LogReg sigmoid
    * contract), so every term x̃·round6(trig) is a round-0 × round-6
    * product — exact at 6 decimals — and rides the boundary-free
    * scale-12 [[DetAgg.dsumP]] route. Power and the period are fixed
    * IEEE tails, round-6. Hash-exact.
    */
  val tsPeriodogram: Q = {
    val kMax = 240
    Q(
      "ts_periodogram",
      Some(s"""WITH b0 AS (SELECT CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS bucket,
              |    CAST(COUNT(*) AS BIGINT) AS x0
              |  FROM events GROUP BY 1),
              |r AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b0),
              |bb AS (SELECT g.bucket - lo AS j, COALESCE(b0.x0, 0) AS x
              |  FROM (SELECT UNNEST(generate_series(lo, hi)) AS bucket FROM r) g
              |  LEFT JOIN b0 USING (bucket) CROSS JOIN r),
              |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(x) AS BIGINT) AS tot FROM bb),
              |b AS (SELECT j, x - tot // n AS x FROM bb CROSS JOIN nn),
              |ks AS (SELECT UNNEST(generate_series(1, LEAST(n // 2, $kMax))) AS k
              |  FROM nn),
              |t AS (SELECT k, j, x,
              |    ROUND(COS(2 * PI() * k * j / n), 6) AS ck,
              |    ROUND(SIN(2 * PI() * k * j / n), 6) AS sk
              |  FROM b CROSS JOIN ks CROSS JOIN nn),
              |p AS (SELECT k, ${D.dsumP("x * ck")} AS c, ${D.dsumP("x * sk")} AS s
              |  FROM t GROUP BY 1)
              |SELECT k, ROUND(CAST(n AS DOUBLE) / k, 6) AS period_hours,
              |  ROUND(c * c + s * s, 6) AS power
              |FROM p CROSS JOIN nn
              |ORDER BY power DESC, k LIMIT 10""".stripMargin),
      (s, dir) => {
        val b0 = ev(s, dir)
          .groupBy(floor(unix_timestamp(col("ts")) / 3600).cast(LongType)
            .as("bucket"))
          .agg(count(lit(1)).as("x0"))
        val r = b0.agg(min("bucket").as("lo"), max("bucket").as("hi"))
        val bb = r
          .select(explode(sequence(col("lo"), col("hi"))).as("bucket"), col("lo"))
          .join(b0, Seq("bucket"), "left")
          .select(
            (col("bucket") - col("lo")).as("j"),
            coalesce(col("x0"), lit(0L)).as("x"))
        val nn = bb.agg(count(lit(1)).as("n"), sum("x").as("tot"))
        val b = bb.crossJoin(broadcast(nn))
          .filter(assert_true(
            col("n") <= lit(4096L),
            format_string(
              "ts_periodogram span guard: %d hourly buckets exceed the " +
                "4096-bucket DFT bound — the j*k grid is quadratic in the " +
                "series length. Window the series (or widen the bucket) " +
                "before the spectral pass.",
              col("n"))).isNull)
          .select(col("j"), expr("x - tot div n").as("x"), col("n"))
        // r11 ADVICE: on a degenerate 1-bucket series Spark's
        // sequence(1, 0) is the DESCENDING [1, 0] while DuckDB's
        // generate_series(1, 0) is empty — pre-filter n >= 2 so both
        // engines emit zero frequencies for a sub-2-bucket series
        val ks = nn.filter(expr("n div 2 >= 1")).select(
          explode(sequence(lit(1L), least(expr("n div 2"), lit(kMax.toLong))))
            .as("k"))
        val t = b.crossJoin(broadcast(ks))
          .select(
            col("k"), col("x"),
            expr("ROUND(COS(2 * PI() * k * j / n), 6)").as("ck"),
            expr("ROUND(SIN(2 * PI() * k * j / n), 6)").as("sk"))
        t.groupBy("k")
          .agg(
            DetAgg.dsumP(col("x") * col("ck")).as("c"),
            DetAgg.dsumP(col("x") * col("sk")).as("s"))
          .crossJoin(broadcast(nn))
          .select(
            col("k"),
            round(col("n").cast("double") / col("k"), 6).as("period_hours"),
            round(col("c") * col("c") + col("s") * col("s"), 6).as("power"))
          .orderBy(col("power").desc, col("k"))
          .limit(10)
      })
  }

  /** The streaming windowed count-min heavy-hitter monitor's plan run in
    * BATCH ([[graft.streaming.CountMinStream]] — one function serves
    * readStream and batch, the sessionize/anomaly/quantile twin
    * discipline; StreamingSpec drives the same plan as an actual
    * stream): per 5-minute window, the CMS estimate vs the exact count
    * for the corpus's 5 busiest users, plus the one-sided certificate
    * (estimate ≥ exact — the CMS contract per window). Counters are
    * exact integer sums over the portable Knuth hash family
    * ([[graft.operators.CountMin.bucketSql]]), the estimate a MIN over
    * d=4 cells with absent cells as 0 (the full window×key×row grid —
    * an inner join would min over fewer cells and overestimate sparse
    * windows), so the ESTIMATES hash-match, not just the certificate.
    * Serving shape at 100 TB: per-window state is d×w counters no
    * matter the key cardinality, mergeable by addition across
    * shards/days.
    */
  val streamTopk: Q = {
    val d = 4; val w = 512
    import graft.operators.CountMin
    Q(
      "stream_topk_monitor",
      Some(s"""WITH e AS (SELECT CAST(FLOOR(epoch(ts) / 300) AS BIGINT) AS bucket,
              |    user_id FROM events),
              |probe AS (SELECT user_id AS v FROM (
              |    SELECT user_id, COUNT(*) AS n_total FROM e GROUP BY 1
              |    ORDER BY n_total DESC, user_id LIMIT 5)),
              |rs AS (SELECT r FROM (VALUES (0), (1), (2), (3)) AS t(r)),
              |cnt AS (SELECT bucket, r,
              |    ${CountMin.bucketSql("user_id", "r", w)} AS b,
              |    CAST(COUNT(*) AS BIGINT) AS c
              |  FROM e CROSS JOIN rs GROUP BY 1, 2, 3),
              |wins AS (SELECT DISTINCT bucket FROM cnt),
              |grid AS (SELECT wins.bucket, probe.v, rs.r,
              |    ${CountMin.bucketSql("probe.v", "rs.r", w)} AS b
              |  FROM wins CROSS JOIN probe CROSS JOIN rs),
              |est AS (SELECT grid.bucket, grid.v,
              |    CAST(MIN(COALESCE(cnt.c, 0)) AS BIGINT) AS n_cms
              |  FROM grid LEFT JOIN cnt ON cnt.bucket = grid.bucket
              |    AND cnt.r = grid.r AND cnt.b = grid.b
              |  GROUP BY 1, 2),
              |ex AS (SELECT bucket, user_id AS v, CAST(COUNT(*) AS BIGINT) AS n_exact
              |  FROM e JOIN probe ON e.user_id = probe.v GROUP BY 1, 2)
              |SELECT ex.bucket, ex.v AS user_id, ex.n_exact, est.n_cms,
              |  est.n_cms >= ex.n_exact AS sketch_ok
              |FROM ex JOIN est ON est.bucket = ex.bucket AND est.v = ex.v""".stripMargin),
      (s, dir) => {
        val events = ev(s, dir)
        val counters = graft.streaming.CountMinStream
          .windowedCounters(events, d, w)
        val probe = events.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_total"))
          .orderBy(col("n_total").desc, col("user_id")).limit(5)
          .select(col("user_id").as("v"))
        val est = graft.streaming.CountMinStream
          .estimateWindowed(probe, counters, d, w)
          .select(
            floor(unix_timestamp(col("window_start")) / 300).cast(LongType)
              .as("bucket"),
            col("v"), col("n_cms").cast(LongType).as("n_cms"))
        val ex = events
          .select(
            floor(unix_timestamp(col("ts")) / 300).cast(LongType).as("bucket"),
            col("user_id"))
          .join(broadcast(probe), col("user_id") === col("v"))
          .groupBy("bucket", "v").agg(count(lit(1)).as("n_exact"))
        ex.join(est, Seq("bucket", "v"))
          .select(
            col("bucket"), col("v").as("user_id"), col("n_exact"), col("n_cms"),
            (col("n_cms") >= col("n_exact")).as("sketch_ok"))
      })
  }

  /** DAU / trailing-7-day WAU / trailing-30-day MAU and the DAU/MAU
    * stickiness ratio — the product-analytics actives board
    * ([[e15CumulativeUsers]] counts growth; this counts ENGAGEMENT,
    * where trailing distinct counts cannot decompose into per-day
    * partials): the user-day relation joins to the ≤|days| broadcast
    * day grid on a trailing range, so the blowup is bounded by the
    * window length (≤30×), never corpus-wide, and each (day, window)
    * cell is one COUNT(DISTINCT). Exact integers; stickiness is one
    * IEEE division — hash-exact unrounded.
    */
  val e20ActiveUsers: Q = Q(
    "e20_active_users",
    Some("""WITH ud AS (SELECT DISTINCT user_id,
           |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
           |  FROM events),
           |days AS (SELECT DISTINCT day AS d FROM ud),
           |dau AS (SELECT day AS d,
           |    CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
           |wau AS (SELECT days.d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
           |        FROM days JOIN ud ON ud.day BETWEEN days.d - 6 AND days.d
           |        GROUP BY 1),
           |mau AS (SELECT days.d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
           |        FROM days JOIN ud ON ud.day BETWEEN days.d - 29 AND days.d
           |        GROUP BY 1)
           |SELECT d AS day, dau, wau, mau,
           |  CAST(dau AS DOUBLE) / mau AS stickiness
           |FROM dau JOIN wau USING (d) JOIN mau USING (d) ORDER BY day""".stripMargin),
    (s, dir) => {
      val ud = ev(s, dir)
        .select(col("user_id"),
          expr("unix_timestamp(date_trunc('second', ts)) div 86400").as("day"))
        .distinct()
      val days = ud.select(col("day").as("d")).distinct()
      val dau = ud.groupBy(col("day").as("d")).agg(count(lit(1)).as("dau"))
      def trailing(w: Int, name: String) = ud
        .join(broadcast(days),
          col("day").between(col("d") - (w - 1), col("d")))
        .groupBy("d").agg(countDistinct(col("user_id")).as(name))
      dau
        .join(trailing(7, "wau"), "d")
        .join(trailing(30, "mau"), "d")
        .select(col("d").as("day"), col("dau"), col("wau"), col("mau"),
          (col("dau").cast("double") / col("mau")).as("stickiness"))
        .orderBy("day")
    })

  /** Holm step-down correction — the FWER member completing the
    * multiple-comparisons family (BH/BY control FDR; Holm controls
    * family-wise error uniformly more powerfully than Bonferroni):
    * ranked p's reject while p_(i) ≤ α/(m−i+1) CONSECUTIVELY — the
    * first failure stops everything after it. Shares the Poisson-rate
    * CTE and Φ text; the stop rank is one conditional MIN over the
    * bounded ranked relation. Explicit double-cast α (the bare-decimal
    * DuckDB pitfall). Hash-exact.
    */
  val statHolm: Q = {
    val phi = graft.fit.ClosedForm.normalCdfText("ABS(z)")
    val thresh = "CAST(0.05 AS DOUBLE) / (m - rnk + 1)"
    Q(
      "stat_holm",
      Some(s"""$poissonRateSqlCtes,
              |p AS (SELECT event_type, z,
              |    ROUND(2.0 * (1.0 - $phi), 6) AS p_value FROM z0),
              |rk AS (SELECT event_type, z, p_value,
              |    ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS rnk,
              |    COUNT(*) OVER () AS m FROM p),
              |st AS (SELECT COALESCE(MIN(CASE WHEN p_value > $thresh
              |    THEN rnk END), MAX(m) + 1) AS stop FROM rk)
              |SELECT event_type, z, p_value, CAST(rnk AS BIGINT) AS rnk,
              |  rnk < stop AS rejected
              |FROM rk CROSS JOIN st""".stripMargin),
      (s, dir) => {
        val z0 = poissonRateZ(s, dir).select("event_type", "z")
        val p = z0.select(
          col("event_type"), col("z"),
          round(lit(2.0) * (lit(1.0) - expr(phi)), 6).as("p_value"))
        val spk = graft.plans.ScalarExpressions.singlePartitionKey(col("p_value"))
        val wRank = Window.partitionBy(spk).orderBy(col("p_value"), col("event_type"))
        val ranked = p
          .withColumn("rnk", row_number().over(wRank).cast(LongType))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("m"))))
        val st = ranked.agg(coalesce(
          min(when(col("p_value") > expr(thresh), col("rnk"))),
          max(col("m")) + 1).as("stop"))
        ranked.crossJoin(broadcast(st))
          .select(
            col("event_type"), col("z"), col("p_value"), col("rnk"),
            (col("rnk") < col("stop")).as("rejected"))
      })
  }

  def all: Seq[Q] = Seq(
    e19KaplanMeier, statMannKendall, statFdrBy, statPageHinkley,
    abConversionZ, abCuped, statWilcoxon, statPermutationSignflip,
    streamSessionize, streamTopk, tsGranger, tsPeriodogram,
    statCochranArmitage,
    streamQuantile, e20ActiveUsers, statHolm,
    e1Buckets, e2Sessionize, e3Json, e4AsOf, e4AsofNearest, e5Funnel,
    e6Retention, e7Rolling, e8Resample, e9Anomaly, e10IntervalJoin,
    statCusum, statAutocorr, statPacf, tsEwma, tsSeasonalDecompose, e11Markov,
    e12BandJoin, statRunsTest, streamAnomaly, tsCrossCorrelation,
    e13AttributionLinear, tsChangepoint, statPoissonRate, e14Rfm,
    e15CumulativeUsers, tsHoltLinear, e16TimeToConvert, statFdrBh,
    e17UserStreaks, e18MarkovStationary, tsRollingSlope, statKsExp,
    splitTimeHoldout, statLjungBox)
}
